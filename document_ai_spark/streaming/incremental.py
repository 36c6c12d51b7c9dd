"""Incremental extraction via Structured Streaming (SURVEY.md ST1).

Spark re-expression of the reference's webhook path (reference
app.py:193-266: per-document arrival -> background thread -> download ->
add, at-least-once): a file-source ``readStream`` over the pages directory
with ``trigger(availableNow=True)`` and ``foreachBatch`` running the SAME
extraction stage, write shuffle, write and commit as the batch jobs
(``plans.pipeline.write_output``), keyed by the epoch id. New page files
are picked up on the next trigger. An epoch replayed after a crash (its
output committed, the stream's commit of it not) reads the same files
and replaces its own files: delivery is exactly-once.

Also: windowed event aggregation (watermark + tumbling window) over the
``events`` fixture — the streaming capability the reference lacks entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from document_ai_spark.operators.extraction import extract_pages
from document_ai_spark.plans.pipeline import FILES_PER_DAY, compact_for_write, write_output
from document_ai_spark.sources.pages import PAGES_SCHEMA
from document_ai_spark.streaming.memory import run_to_memory


def incremental_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    stream_checkpoint_dir: str,
) -> None:
    """Process all not-yet-seen page files into ``out_dir``, then stop
    (availableNow). Re-running picks up only new files — the
    streaming-source analog of the batch checkpoint table. Give the stream
    an ``out_dir`` of its own: epoch ids and url-bucket keys can coincide."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(pages_dir)
    )

    # recursiveFileLookup turns partition discovery off, so warc_day reads
    # null: the day is the UTC date of warc_ts, the value the pages layout
    # is partitioned by, in any session time zone
    micros_per_day = 86_400_000_000
    utc_day = F.date_from_unix_date(F.floor(F.unix_micros("warc_ts") / micros_per_day).cast("int"))

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        rows = extract_pages(batch_df.withColumn("warc_day", utc_day.cast("string")))
        rows = compact_for_write(rows.withColumn("_key", F.lit(epoch_id)), FILES_PER_DAY)
        write_output(rows, out_dir, {epoch_id})

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", stream_checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """One-hour tumbling-window counts per event_type, with a two-hour
    late-data watermark on a stream. Works identically on a batch
    DataFrame (window() is not streaming-only); q20 checks that form
    against its oracle, q35 the stream."""
    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_windowed_stream(
    spark: SparkSession, events_path: str, checkpoint_dir: str, query_name: str = "evt_counts"
) -> DataFrame:
    """Drive the windowed aggregation as a real stream over the events
    parquet (memory sink, availableNow) and return the result table."""
    return run_to_memory(
        spark, events_path, checkpoint_dir, query_name, windowed_event_counts, "complete", None
    )
