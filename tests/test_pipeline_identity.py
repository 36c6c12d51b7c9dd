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



def test_extract_batches_build_the_declared_schema():
    """The Arrow stage fed batches directly: every row equals
    extract_document's result, and every batch, an empty one included,
    has the Arrow form of EXTRACTED_SCHEMA."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from document_ai_spark.kernel.extract import extract_document
    from document_ai_spark.operators.extraction import EXTRACTED_SCHEMA, _extract_batches
    from document_ai_spark.sources.pages import generate_rows

    # a null html, then empty-0, no-main-4 (zero spans), pdf-encrypted-6
    # (the error row) and page-28 (a PDF with spans) among 29 corpus rows
    rows = [{"url": "https://e.com/null", "html": None}] + list(generate_rows(29, seed=42))
    schema = to_arrow_schema(EXTRACTED_SCHEMA)
    batch = pa.RecordBatch.from_pydict(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": [r.get("warc_ts") for r in rows],
            "lang": [r.get("lang") for r in rows],
            "html": [r["html"] for r in rows],
            "warc_day": ["2024-03-01"] * len(rows),
        },
        schema=pa.schema(
            [schema.field(n) for n in ("url", "warc_ts", "lang")]
            + [pa.field("html", pa.binary()), schema.field("warc_day")]
        ),
    )
    for markdown in (False, True):
        out = list(_extract_batches(iter([batch, batch.slice(0, 0)]), markdown=markdown))
        assert [b.num_rows for b in out] == [len(rows), 0]
        assert [b.schema for b in out] == [schema, schema]
        got = out[0].to_pylist()
        made_names = ("doc_hash", "kind", "text", "spans", "n_chars", "n_blocks", "error")
        for src, g in zip(batch.to_pylist(), got):
            html = src.pop("html")  # url, warc_ts, lang and warc_day pass through
            made = dict(zip(made_names, extract_document(html, markdown=markdown)))
            assert g == {**src, **made, "bytes_in": len(html or b"")}
        by_url = {g["url"].rsplit("/", 1)[1]: g for g in got}
        assert by_url["null"]["bytes_in"] == 0 and by_url["null"]["kind"] == "empty"
        assert by_url["empty-0"]["kind"] == "empty" and by_url["no-main-4"]["spans"] == []
        assert by_url["pdf-encrypted-6"]["error"] == "encrypted"
        assert by_url["page-28"]["kind"] == "pdf" and len(by_url["page-28"]["spans"]) == 4
