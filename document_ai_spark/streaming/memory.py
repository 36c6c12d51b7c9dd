"""The one stream driver of the event operators: a directory of event
parquet files read as a stream, one operator applied, run to the end of
the input (availableNow) into a memory table, and that table returned."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_to_memory(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    query_name: str,
    op,
    output_mode: str,
    files_per_trigger: int | None,
) -> DataFrame:
    """Stream the parquet files directly in ``events_path``
    (``files_per_trigger`` files per micro-batch, in modification-time
    order; None: one micro-batch) through ``op`` into the memory table
    ``query_name``. ``ts`` is cast to TIMESTAMP first: parquet may hold
    TIMESTAMP_NTZ, and watermarks and ``unix_micros`` need TIMESTAMP. The
    memory sink holds the rows, so the input may go once this returns."""
    reader = spark.readStream.schema(spark.read.parquet(events_path).schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    events = reader.parquet(events_path).withColumn("ts", F.col("ts").cast("timestamp"))
    q = (
        op(events)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")
