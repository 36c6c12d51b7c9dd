"""Spark pipeline vs committed goldens: the byte-identity gate (north rule).

The Spark extraction output must be byte-equal per url to the committed
golden files produced by the single-threaded oracle kernel — and identical
across scan layouts and grouping (partition-order independence, the local
proxy for cluster-size independence).
"""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from document_ai_spark.operators.extraction import extract_pages
from document_ai_spark.plans.pipeline import read_pages, run_extraction, load_extracted

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


@pytest.fixture(scope="module")
def golden_index():
    with open(os.path.join(GOLDEN, "index.json")) as f:
        return json.load(f)


def _collect_texts(df):
    return {r["url"]: (r["text"] or "", r["doc_hash"]) for r in df.select("url", "text", "doc_hash").collect()}


def test_spark_output_matches_goldens(spark, pages_dir, golden_index):
    out = extract_pages(read_pages(spark, pages_dir))
    got = _collect_texts(out)
    assert set(got) == set(golden_index)
    for url, meta in golden_index.items():
        with open(os.path.join(GOLDEN, meta["hash"] + ".txt"), "rb") as f:
            golden_bytes = f.read()
        text, doc_hash = got[url]
        assert text.encode("utf-8") == golden_bytes, f"text mismatch for {url}"
        assert doc_hash == meta["doc_hash"], f"doc_hash mismatch for {url}"


def test_spans_match_goldens(spark, pages_dir, golden_index):
    out = extract_pages(read_pages(spark, pages_dir))
    rows = out.select("url", "spans").collect()
    for r in rows:
        meta = golden_index[r["url"]]
        with open(os.path.join(GOLDEN, meta["hash"] + ".spans.json")) as f:
            golden_spans = json.load(f)
        got = [s.asDict() for s in (r["spans"] or [])]
        assert len(got) == len(golden_spans)
        for g, e in zip(got, golden_spans):
            assert g["char_start"] == e["char_start"] and g["char_end"] == e["char_end"]
            assert g["tag"] == e["tag"] and g["block_id"] == e["block_id"]
            assert abs(g["text_density"] - e["text_density"]) == 0.0
            assert abs(g["link_density"] - e["link_density"]) == 0.0


def _output_fingerprint(spark, out_dir):
    rows = (
        load_extracted(spark, out_dir)
        .select("url", "doc_hash", "text")
        .orderBy("url")
        .collect()
    )
    h = hashlib.blake2b()
    for r in rows:
        h.update(r["url"].encode())
        h.update(r["doc_hash"].encode())
        h.update((r["text"] or "").encode())
    return h.hexdigest()


def test_partition_layout_independence(spark, pages_dir, tmp_path):
    """Same input at different grouping and scan split size =>
    byte-identical output.

    Local stand-in for the N vs 4N executor invariant (BASELINE.md); the
    true two-parallelism run (local[8] vs local[32]) is bench-level
    (scripts/bench_scaling.py) since one JVM owns one master setting.
    minPartitionNum=1 stops Spark spreading the tiny corpus over every
    core, so 1m splits give one scan task per day file and 64m splits pack
    all four files into one task.
    """
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.minPartitionNum")
    saved = {k: spark.conf.get(k, None) for k in keys}
    scan_tasks = {}
    try:
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        for name, n_groups, split in (("a", 2, "1m"), ("b", 8, "64m")):
            spark.conf.set("spark.sql.files.maxPartitionBytes", split)
            scan_tasks[name] = read_pages(spark, pages_dir).rdd.getNumPartitions()
            run_extraction(spark, pages_dir, str(tmp_path / name), str(tmp_path / f"r{name}"), n_groups=n_groups)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert scan_tasks == {"a": 4, "b": 1}
    assert _output_fingerprint(spark, str(tmp_path / "a")) == _output_fingerprint(spark, str(tmp_path / "b"))


def test_kind_mix_and_no_errors(spark, pages_dir):
    out = extract_pages(read_pages(spark, pages_dir))
    kinds = {r["kind"]: r["n"] for r in out.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    # corpus v10 plants exactly ONE deliberate error row: the /Encrypt'd
    # PDF, which must surface LABELED — no other document may error
    errs = out.filter(F.col("kind") == "error").select("url", "error").collect()
    assert [(("pdf-encrypted" in r.url), r.error) for r in errs] == [(True, "encrypted")]
    assert kinds.get("html", 0) > 0 and kinds.get("pdf", 0) > 0 and kinds.get("empty", 0) >= 3


def test_duplicate_payload_same_hash_distinct_urls(spark, pages_dir):
    out = extract_pages(read_pages(spark, pages_dir))
    dups = out.filter(F.col("url").rlike("dup-[ab]")).select("url", "doc_hash", "text").collect()
    assert len(dups) == 2
    assert dups[0]["doc_hash"] == dups[1]["doc_hash"]
    assert dups[0]["text"] == dups[1]["text"] != ""

