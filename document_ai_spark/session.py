"""SparkSession factory with the engine's standard configuration.

Tuned for the extraction workload (MB-sized binary rows through Arrow):
 * Arrow-batched Python exchange ON, with a SMALL maxRecordsPerBatch —
   rows carry whole HTML/PDF payloads, so a 10k-row default batch could be
   gigabytes; 256 rows keeps per-batch memory bounded (SURVEY.md §4).
 * AQE on (runtime coalescing + skew-join splitting).
 * UTC session timezone (oracle comparison against DuckDB is UTC-naive).
 * shuffle.partitions defaults to #cores, not 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "document_ai_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(cpus if n == "*" else n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 256 rows/batch: rows carry whole HTML/PDF payloads, and when the
        # extraction stage reads read_warc's per-file output (every record
        # of one ~1 GB WARC file in one task) no scan-split byte bound
        # applies — a batch is up to maxRecordsPerBatch rows, so with
        # MB-sized giant pages 256 keeps the worst batch in the hundreds of MB
        # (1024 measured only ~6% faster in one window, not worth the
        # 4x worst-case batch memory / Arrow 2 GB offset headroom).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # commit files by rename-once (v2): the v1 two-phase rename doubles
        # driver-side commit latency for many-file day-partitioned writes
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # MB-sized binary rows feeding a CPU-heavy Python stage: default
        # 128 MB splits would pack a small corpus into a handful of scan
        # tasks and leave cores idle in the last wave. 8 MB targets a few
        # seconds of extraction per task — fine-grained enough to pack
        # waves evenly under Zipf-skewed page sizes, coarse enough that
        # per-task overhead stays <1%. Scales with per-byte kernel cost,
        # not corpus size (a cluster run tunes this per executor count).
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
