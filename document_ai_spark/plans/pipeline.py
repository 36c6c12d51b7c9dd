"""End-to-end extraction pipeline with checkpoint/resume (SURVEY.md §3.1).

Each call runs ONE Spark job over every checkpoint key not yet done:

    read pages (parquet/Iceberg layout, partition+column pruned)
      -> filter(key IN pending keys)            # a day filter prunes files
      -> mapInArrow(extract_batch)              # scan-aligned, Arrow batches
      -> repartition(warc_day, url bucket)      # compact_for_write, the one shuffle
      -> observe per-key n_docs, n_err, bytes_in
      -> write partitionBy(key, warc_day), dynamic partition overwrite
    then add one checkpoint file with a 'done' row per key, from the
    observed counters.

A key is a warc_day partition value (:func:`run_extraction_by_day`, layout
``warc_day=<d>/``) or a url bucket (:func:`run_extraction`, layout
``group=<g>/warc_day=<d>/``). Re-running the same (pages_path, out_dir,
run_dir) skips done keys: resume at partition granularity. A job's keys
become done together, when its checkpoint file is renamed into place; a
crash before that re-runs all of them, and the dynamic overwrite replaces
exactly their partitions, so the output stays exactly-once.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from document_ai_spark.functions.hashing import salted_bucket
from document_ai_spark.operators.extraction import extract_pages
from document_ai_spark.plans import checkpoint as cp
from document_ai_spark.sources.pages import PAGES_SCHEMA


def read_pages(spark: SparkSession, pages_path: str) -> DataFrame:
    """Read the pages table (Parquet with Iceberg-style warc_day layout)
    with its declared schema: warc_ts a timestamp, warc_day a string."""
    return spark.read.schema(PAGES_SCHEMA).option("basePath", pages_path).parquet(pages_path)


def read_source(spark: SparkSession, pages_path: str, source_format: str = "parquet") -> DataFrame:
    """Pages from any supported source format — same schema either way
    (cross-source extraction identity is gated by q40/test_warc)."""
    if source_format == "warc":
        from document_ai_spark.sources.warc import read_warc

        return read_warc(spark, pages_path)
    return read_pages(spark, pages_path)


def compact_for_write(df: DataFrame, files_per_day: int) -> DataFrame:
    """Shuffle so `write.partitionBy(..., "warc_day")` emits at most
    files_per_day files per day directory instead of one per upstream task.

    Each row gets a bucket = xxhash64(url) mod files_per_day; repartitioning
    on (warc_day, bucket) puts every (day, bucket) combo in exactly one
    task, so no day directory gets more than files_per_day files however
    many tasks ran upstream — the small-files guard that matters at 10^12
    docs (a 1000-executor job would otherwise write days x tasks files).
    The shuffle moves only the extracted output (much smaller than the
    html input), and the bucket is a pure function of url, so output bytes
    stay independent of parallelism.

    The file count is at most days x files_per_day, not equal to it: a
    write task holding several combos of one day writes one file for them,
    and an empty combo writes none. Over 4 days x 8 buckets, 4 tasks wrote
    14 files and 128 tasks wrote 30 (two combos were empty).

    TASK-COUNT RULE: one write task per shuffle partition.
    ``session.get_spark`` sets ``spark.sql.shuffle.partitions`` to the
    context's ``defaultParallelism`` (its core count) unless the launcher
    set it. The count is passed explicitly so AQE does NOT coalesce the
    write stage down to a few tasks and serialize the parquet/zstd encode.
    """
    bucket = F.pmod(F.xxhash64(F.col("url")), F.lit(files_per_day))
    num_tasks = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(num_tasks, F.col("warc_day"), bucket)


def _extract_pending(
    spark: SparkSession,
    pages: DataFrame,
    key_name: str,
    key: Column,
    key_ids: dict,
    out_dir: str,
    run_dir: str,
    files_per_day: int,
    markdown: bool,
) -> dict:
    """The one extraction job behind both entry points.

    ``key`` computes the checkpoint key and gives the same value on a page
    row and on its extracted row; ``key_ids`` maps every key value to its
    checkpoint group_id. Keys without a 'done' row are extracted, and the
    output is partitioned by ``key_name`` and then warc_day (warc_day
    alone when it is the key).
    """
    done = cp.done_groups(spark, run_dir)
    pending = {v: k for v, k in key_ids.items() if k not in done}
    run_id = uuid.uuid4().hex[:12]
    summary = {"run_id": run_id, "groups_done_before": len(done), "groups_run": len(pending)}
    if not pending:
        return summary
    started = time.time()
    values = list(pending)
    extracted = extract_pages(pages.filter(key.isin(values)), markdown)
    extracted = extracted.withColumn(key_name, key)
    counters, aggs = Observation(), []
    for i, v in enumerate(values):
        mine = F.col(key_name) == F.lit(v)
        aggs += [
            F.count_if(mine).alias(f"n_docs_{i}"),
            F.count_if(mine & (F.col("kind") == "error")).alias(f"n_err_{i}"),
            F.coalesce(F.sum(F.when(mine, F.col("bytes_in"))), F.lit(0)).alias(f"bytes_in_{i}"),
        ]
    # observed after the shuffle, so the counters are aggregated in the
    # write's result stage, where each partition's update is applied once
    # (a re-run shuffle-map task would add its update again)
    (
        compact_for_write(extracted, files_per_day)
        .observe(counters, *aggs)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*dict.fromkeys([key_name, "warc_day"]))
        .parquet(out_dir)
    )
    got, stats = counters.get, {}
    for i, v in enumerate(values):
        n_docs, n_err, n_bytes = (got[f"{c}_{i}"] for c in ("n_docs", "n_err", "bytes_in"))
        stats[pending[v]] = dict(n_docs=n_docs, n_ok=n_docs - n_err, n_err=n_err, bytes_in=n_bytes)
    cp.append_done(spark, run_dir, run_id, stats, started)
    return summary


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_dir: str,
    n_groups: int = 8,
    files_per_day: int = 8,
    source_format: str = "parquet",
    markdown: bool = False,
) -> dict:
    """Run (or resume) the extraction with url-bucket keys. Returns summary
    counters.

    A key is ``salted_bucket(url, n_groups, GROUP_SALT)``, re-derived from
    url after extraction; output goes to ``group=<g>/warc_day=<d>/``. This
    is the mode for sources without day partitions (raw WARC) and for
    targeted re-runs of a url subset.

    SCALE FENCE: the bucket filter is a hash of url, which no file format
    can prune, so every call scans the whole source once, however few keys
    are pending. The production path is :func:`run_extraction_by_day`,
    whose day filter prunes the scan to the pending days' files.
    tests/test_plans.py pins both the fence and the day-mode pruning.
    """
    group = salted_bucket(F.col("url"), n_groups, cp.GROUP_SALT)
    return _extract_pending(
        spark, read_source(spark, pages_path, source_format), "group", group,
        {g: g for g in range(n_groups)}, out_dir, run_dir, files_per_day, markdown,
    )


def load_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the full extraction output across groups (group is a partition col)."""
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def list_days(pages_path: str) -> list[str]:
    """Distinct warc_day partition values from the directory layout (the
    Iceberg equivalent reads partition metadata, not data)."""
    days = []
    for name in sorted(os.listdir(pages_path)):
        if name.startswith("warc_day="):
            days.append(name.split("=", 1)[1])
    return days


def day_group_key(day: str) -> int:
    """Stable checkpoint key for a warc_day partition VALUE.

    Resume must be keyed on the day itself, not its position in the sorted
    day list: in the normal incremental-crawl case a lexically-earlier day
    partition appearing between runs would shift every index, silently
    skipping an unprocessed day while re-running a done one. ISO dates map
    to their proleptic-Gregorian ordinal (injective, ~739k for 2024 — also
    disjoint from run_extraction's small url-bucket ids, so sharing a
    run_dir cannot alias); non-ISO values fall back to a stable blake2b
    hash placed above 2^30.
    """
    import datetime as _dt
    import hashlib as _hl

    try:
        return _dt.date.fromisoformat(day).toordinal()
    except ValueError:
        h = int.from_bytes(_hl.blake2b(day.encode(), digest_size=4).digest(), "big")
        return 0x40000000 + (h % 0x3FFFFFFF)


def run_extraction_by_day(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_dir: str,
    files_per_day: int = 8,
    markdown: bool = False,
) -> dict:
    """Production day-partitioned extraction. Returns summary counters.

    A key is a warc_day PARTITION value (exactly the north rule's "resume
    at partition granularity"): the filter on pending days is
    partition-PRUNED at the scan, so the job reads only those days' files.
    Output goes to ``warc_day=<d>/``. A ``pages_path`` with no
    ``warc_day=<d>`` directories raises ValueError naming it.
    """
    keys = {d: day_group_key(d) for d in list_days(pages_path)}
    if not keys:
        # a day's own directory or a WARC directory, not the table root
        raise ValueError(f"no warc_day=<d> partition directories under {pages_path}")
    return _extract_pending(
        spark, read_pages(spark, pages_path), "warc_day", F.col("warc_day"), keys,
        out_dir, run_dir, files_per_day, markdown,
    )
