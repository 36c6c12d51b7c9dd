"""SparkSession factory: the one place a session is configured.

``SETTINGS`` holds the engine settings that decide plan shape, file bytes
and speed (tuned for MB-sized binary rows through Arrow). ``get_spark``
applies them after the session starts, the same way under every launch,
and only as DEFAULTS: a key the launcher already holds wins — spark-submit's
``--conf``, ``spark-defaults.conf`` and ``extra_conf`` all land in
``sparkContext.getConf()``, and any key found there is left alone.

``spark.sql.shuffle.partitions`` defaults to the context's
``defaultParallelism`` (its core count), not 200: ``compact_for_write``
runs one write task per shuffle partition. A cluster with dynamic
allocation has no fixed core count at start, so pass the value there
with ``--conf spark.sql.shuffle.partitions=<n>``.

Files are committed by Hadoop's default output committer (algorithm
version 1): each task's files wait in the job's staging directory and
move into the destination only when the whole job commits, so a failed
append (``sinks.collection.append_chunks``, the ANN index appends)
leaves the target as it was. Version 2 moved each task's files at task
commit and left a failed job's files behind. The extraction jobs and
the incremental stream write with pyarrow and commit their own files
(``plans.pipeline.commit_output``).

Two settings are local-launch only. With ``master`` given, ``get_spark``
starts the JVM itself and sets the UI off and 16g driver memory. With
``master=None`` the launcher's master is kept (spark-submit's
``--master``, else PySpark's ``local[*]``); the JVM is already running
then, and those static settings would mean nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SETTINGS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # oracle comparison against DuckDB is UTC-naive
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 256 rows/batch: rows carry whole HTML/PDF payloads, and when the
    # extraction stage reads read_warc's per-file output (every record
    # of one ~1 GB WARC file in one task) no scan-split byte bound
    # applies — a batch is up to maxRecordsPerBatch rows, so with
    # MB-sized giant pages 256 keeps the worst batch in the hundreds of MB
    # (1024 measured only ~6% faster in one window, not worth the
    # 4x worst-case batch memory / Arrow 2 GB offset headroom).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.parquet.compression.codec": "zstd",
    # MB-sized binary rows feeding a CPU-heavy Python stage: default
    # 128 MB splits would pack a small corpus into a handful of scan
    # tasks and leave cores idle in the last wave. 8 MB targets a few
    # seconds of extraction per task — fine-grained enough to pack
    # waves evenly under Zipf-skewed page sizes, coarse enough that
    # per-task overhead stays <1%. Scales with per-byte kernel cost,
    # not corpus size (a cluster run tunes this per executor count).
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
}


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "document_ai_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = (
            b.master(master)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "16g")
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    held = sc.getConf()
    defaults = {**SETTINGS, "spark.sql.shuffle.partitions": str(sc.defaultParallelism)}
    for k, v in defaults.items():
        if not held.contains(k):
            spark.conf.set(k, v)
    sc.setLogLevel("WARN")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop the session, and before it Structured Streaming's state store.

    A stateful query leaves the state store's maintenance thread running
    after the query ends. Left to ``spark.stop()``, its next run finds no
    SparkEnv and logs a stack trace (``SparkEnv not active, cannot do
    maintenance on StateStores``) although nothing failed.
    """
    spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
