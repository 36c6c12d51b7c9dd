"""Checkpoint / lineage / metrics table (north rule; SURVEY.md X5 + A1).

Capability analog of the reference's implicit resume-by-dedup (re-running
add_documents skips already-present hashes, reference
services/ai_service/add_documents.py:27-32) and its batch success/failure
counters (reference services/ai_service/main.py:141-172) — made explicit and
partition-granular:

    checkpoint(run_id string, group_id int, status string,
               n_docs long, n_ok long, n_err long, bytes_in long,
               started_at double, finished_at double, app_id string)

The unit of resume is a CHECKPOINT KEY, stored in group_id: a warc_day
partition value (``pipeline.day_group_key``) or a url bucket,
xxhash64(url, GROUP_SALT) mod n_groups. Both are pure functions of the
row, so key membership is identical across runs, partition counts and
cluster sizes. A key is re-extracted iff no 'done' row exists for it.

One extraction job covers every pending key; its commit
(``pipeline.commit_output``) replaces those keys' files (exactly-once
under retry) and sums their counters. Then the job adds one file with a
row per key, renamed into place: its keys become done together, and a
crash before the rename re-runs all of them.

The table is a directory of small parquet files, one per job, written and
read on the driver with pyarrow. A missing directory is an empty
checkpoint; any file that cannot be read raises, because treating it as
empty would silently re-run the whole crawl. Paths may be URIs.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

GROUP_SALT = 0xD0C  # fixed salt of run_extraction's url-bucket keys

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("group_id", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_ok", T.LongType()),
        T.StructField("n_err", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("started_at", T.DoubleType()),
        T.StructField("finished_at", T.DoubleType()),
        T.StructField("app_id", T.StringType()),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(CHECKPOINT_SCHEMA)


def checkpoint_path(run_dir: str) -> str:
    return os.path.join(run_dir, "checkpoint")


def filesystem(path: str):
    """-> (pyarrow filesystem, path within it) of a URI or a local path."""
    return pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))


def _read_table(run_dir: str) -> pa.Table:
    fs, path = filesystem(checkpoint_path(run_dir))
    if fs.get_file_info(path).type == pafs.FileType.NotFound:
        return _ARROW_SCHEMA.empty_table()
    return pq.read_table(path, schema=_ARROW_SCHEMA, filesystem=fs)


def read_checkpoint(spark: SparkSession, run_dir: str) -> DataFrame:
    return spark.createDataFrame(_read_table(run_dir))


def done_groups(spark: SparkSession, run_dir: str) -> set[int]:
    """Keys with a 'done' row, read on the driver without a Spark job."""
    t = _read_table(run_dir)
    return {g for g, s in zip(t["group_id"].to_pylist(), t["status"].to_pylist()) if s == "done"}


def append_done(
    spark: SparkSession,
    run_dir: str,
    run_id: str,
    counters: dict,
    started_at: float,
) -> None:
    """Record every key of one job done: ``counters`` maps each key's
    group_id to its counters. One file with one row per key, so the keys
    become done together."""
    # driver-side pyarrow append (one small file, unique name): a Spark
    # write job costs ~300 ms of scheduling. On a cluster these rows go
    # through the Iceberg catalog instead.
    fs, path = filesystem(checkpoint_path(run_dir))
    fs.create_dir(path)
    finished_at, app_id = time.time(), spark.sparkContext.applicationId
    rows = [
        {
            "run_id": run_id,
            "group_id": group_id,
            "status": "done",
            **{k: int(c.get(k, 0)) for k in ("n_docs", "n_ok", "n_err", "bytes_in")},
            "started_at": float(started_at),
            "finished_at": finished_at,
            "app_id": app_id,
        }
        for group_id, c in counters.items()
    ]
    table = pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA)
    # written under a hidden name, then renamed: a crash mid-write leaves a
    # file every reader skips, not one that fails every later read
    name = f"cp-{run_id}-{uuid.uuid4().hex[:8]}.parquet"
    pq.write_table(table, f"{path}/.{name}", filesystem=fs)
    fs.move(f"{path}/.{name}", f"{path}/{name}")


def metrics_rollup(spark: SparkSession, run_dir: str) -> DataFrame:
    """Per-run counters rollup (analog of the reference's end-of-run log at
    services/ai_service/main.py:165-172), all built-in aggregates."""
    cp = read_checkpoint(spark, run_dir)
    return cp.groupBy("run_id", "status").agg(
        F.count("*").alias("n_groups"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_ok").alias("n_ok"),
        F.sum("n_err").alias("n_err"),
        F.sum("bytes_in").alias("bytes_in"),
        F.max(F.col("finished_at") - F.col("started_at")).alias("max_group_sec"),
    )
