"""Physical-plan property gates (SURVEY.md §4): predicate pushdown reaches
the parquet scan, column pruning keeps unused columns out of the Python
exchange, small dimension sides broadcast. A plan regression here costs
orders of magnitude at 100 TB even when results stay correct."""

from __future__ import annotations

import os
import re

import pytest

from tests.conftest import SF_SMALL


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString() + qe.optimizedPlan().toString()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def test_q01_filter_pushed_to_scan(spark, entry):
    p = _plan(entry.q01_pricing_summary(spark, SF_SMALL))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", p))
    assert "LessThanOrEqual(l_shipdate" in pushed


def test_q01_column_pruning(spark, entry):
    p = _plan(entry.q01_pricing_summary(spark, SF_SMALL))
    schema = re.findall(r"ReadSchema: (\S+)", p)[0]
    # only the 5 referenced measure/key columns + shipdate, never the
    # unreferenced l_partkey/l_suppkey/l_tax
    assert "l_partkey" not in schema and "l_tax" not in schema


def test_enrichment_join_broadcasts_dimension(spark, entry):
    assert "BroadcastHashJoin" in _plan(entry.q12_enrichment_join(spark, SF_SMALL))


def test_q27_pushdown_and_broadcast(spark, entry):
    p = _plan(entry.q27_shipping_priority(spark, SF_SMALL))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", p))
    assert "GreaterThan(l_shipdate" in pushed
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed
    assert "BroadcastHashJoin" in p


def test_extraction_scan_pruned_to_udf_inputs(spark, pages_dir):
    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.plans.pipeline import read_pages

    p = _plan(extract_pages(read_pages(spark, pages_dir)))
    schema = re.findall(r"ReadSchema: (\S+)", p)[0]
    # exactly the 4 UDF inputs cross the scan; the pre-existing `text`
    # column must NOT be read
    for col in ("url:", "warc_ts:", "html:", "lang:"):
        assert col in schema
    assert "text:" not in schema


def test_extraction_default_plan_has_no_input_shuffle(spark, pages_dir):
    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.plans.pipeline import read_pages

    p = _plan(extract_pages(read_pages(spark, pages_dir)))
    # scan-aligned: no Exchange between scan and the Python stage
    assert "Exchange" not in p


def test_compact_write_shuffle_not_aqe_coalesced(spark, pages_dir):
    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.plans.pipeline import compact_for_write, read_pages

    df = compact_for_write(extract_pages(read_pages(spark, pages_dir)), files_per_day=4)
    n = df.rdd.getNumPartitions()
    expected = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n == expected


def test_compact_write_file_count_bound(spark, pages_dir, tmp_path):
    """Each day directory gets at most min(files_per_day, write tasks)
    files, and the write runs one task per shuffle partition."""
    from document_ai_spark.operators.extraction import extract_pages
    from document_ai_spark.plans.pipeline import compact_for_write, read_pages

    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for files_per_day in (1, 4):
        pages = read_pages(spark, pages_dir)
        df = compact_for_write(extract_pages(pages), files_per_day=files_per_day)
        tasks = df.rdd.getNumPartitions()
        assert tasks == partitions
        out = str(tmp_path / f"fpd{files_per_day}")
        df.write.partitionBy("warc_day").parquet(out)
        days = [d for d in os.listdir(out) if d.startswith("warc_day=")]
        files = [
            [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")] for d in days
        ]
        assert len(days) == 4
        assert all(1 <= len(fs) <= min(files_per_day, tasks) for fs in files)


def test_day_mode_group_filter_is_partition_pruned(spark, pages_dir):
    """The production path (run_extraction_by_day) filters on warc_day — a
    PARTITION column — so its scan reads only the pending days' files."""
    from pyspark.sql import functions as F

    from document_ai_spark.plans.pipeline import list_days, read_pages

    day = list_days(pages_dir)[0]
    df = read_pages(spark, pages_dir).filter(F.col("warc_day") == day)
    p = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m is not None and "warc_day" in m.group(1)


def test_bucket_mode_group_filter_cannot_prune(spark, pages_dir):
    """The url-bucket group filter is a hash of url — NOT prunable, which
    is why run_extraction's docstring fences bucket mode: every call scans
    the whole source, however few buckets are pending."""
    from pyspark.sql import functions as F

    from document_ai_spark.plans.checkpoint import GROUP_SALT
    from document_ai_spark.functions.hashing import salted_bucket
    from document_ai_spark.plans.pipeline import read_pages

    df = read_pages(spark, pages_dir).filter(
        salted_bucket(F.col("url"), 8, GROUP_SALT) == 0
    )
    p = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m is None or "url" not in m.group(1)  # nothing useful pruned


def test_dedup_anti_join_leaves_strategy_to_aqe(spark):
    """dedup_new_vs_existing adds NO broadcast hint: AQE converts the
    shuffle anti-join at runtime from real post-filter sizes (the
    docstring contract — a driver-side row-count heuristic would cost an
    extra count job and still guess)."""
    from document_ai_spark.operators.dedup import dedup_new_vs_existing

    inc = spark.range(100).selectExpr("cast(id as string) as doc_hash", "id")
    ex = spark.range(10).selectExpr("cast(id as string) as doc_hash")
    df = dedup_new_vs_existing(inc, ex)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed  # no ResolvedHint/UnresolvedHint anywhere
    assert df.count() == 90


def test_day_group_key_stability_and_ranges():
    from document_ai_spark.plans.pipeline import day_group_key

    # ISO dates: injective ordinals, stable across calls
    a, b = day_group_key("2024-03-01"), day_group_key("2024-03-02")
    assert a != b and a == day_group_key("2024-03-01")
    assert 700_000 < a < 1_000_000  # far above url-bucket group ids
    # non-ISO fallback: stable hash placed above 2^30
    x = day_group_key("week=12")
    assert x == day_group_key("week=12") and x >= 0x40000000
    assert day_group_key("week=12") != day_group_key("week=13")
