"""End-to-end extraction pipeline with checkpoint/resume (SURVEY.md §3.1).

Each call runs ONE Spark job over every checkpoint key not yet done:

    read pages (parquet/Iceberg layout, partition+column pruned)
      -> filter(key IN pending keys)            # a day filter prunes files
      -> mapInArrow(extract_batch)              # scan-aligned, Arrow batches
      -> repartition(warc_day, url bucket)      # compact_for_write, the one shuffle
      -> mapInArrow(write_files)                # pyarrow: one zstd file per (task,
                                                # partition) in a staging directory,
                                                # one commit row per file
      -> collect()                              # one successful attempt per task
    then, on the driver, commit_output moves the files the commit rows
    name into place and sums their counters per key, and one checkpoint
    file adds a 'done' row per key.

The rows stay Arrow from the extraction to the file: pyarrow encodes them
in the Python worker, and the JVM runs no parquet writer and no commit
protocol. ``out_dir`` is resolved with ``pyarrow.fs.FileSystem.from_uri``,
so a URI (s3://, hdfs://) works as a local path does.

A key is a warc_day partition value (:func:`run_extraction_by_day`, layout
``warc_day=<d>/``) or a url bucket (:func:`run_extraction`, layout
``group=<g>/warc_day=<d>/``). Re-running the same (pages_path, out_dir,
run_dir) skips done keys: resume at partition granularity. A job's keys
become done together, when its checkpoint file is renamed into place; a
crash before that re-runs all of them, and the commit replaces exactly
their directories, so the output stays exactly-once.
"""

from __future__ import annotations

import functools
import os
import posixpath
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from document_ai_spark.functions.hashing import salted_bucket
from document_ai_spark.operators.extraction import EXTRACTED_SCHEMA, extract_pages
from document_ai_spark.plans import checkpoint as cp
from document_ai_spark.sources.pages import PAGES_SCHEMA

# one commit row per written file: its key's directory, its path under
# the job's staging directory, and its counters
_COMMIT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_err", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
    ]
)
# an output file's columns: the extracted row without its partition
# column, warc_ts as INT64 UTC microseconds in any session time zone
_FILE_SCHEMA = pa.schema([f for f in to_arrow_schema(EXTRACTED_SCHEMA) if f.name != "warc_day"])
# dictionary-encoded: the columns whose values repeat across rows, not
# url, doc_hash, text, warc_ts or the offsets and sizes; zstd at level 3,
# the level of Spark's parquet writer. At 3000 docs the files total
# 2.77 MB, as Spark's did (every column in a dictionary: 2.96 MB).
_DICTIONARY = ["lang", "kind", "error", "n_blocks"] + [
    f"spans.list.element.{c}" for c in ("block_id", "tag", "text_density", "link_density")
]
# characters Spark escapes in a partition directory's value
_ESCAPED = set('"#%\'*/:=?\\\x7f{[]^')


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


def _part_dir(name: str, value) -> str:
    """Hive-style ``name=value`` directory, escaped as Spark escapes it."""
    if value is None:
        return f"{name}=__HIVE_DEFAULT_PARTITION__"
    return f"{name}=" + "".join(
        f"%{ord(c):02X}" if ord(c) < 0x20 or c in _ESCAPED else c for c in str(value)
    )


def _write_files(batches, fs, staging: str, parts: list):
    """The write, as the mapInArrow body after the shuffle: group this
    task's rows by the partition columns ``parts`` and write each group as
    one zstd file with one row group under ``staging/<partition path>/``,
    without the partition columns; yield one commit row per file.

    A task holds its rows as Arrow until it writes them, so a shuffle
    partition must fit in a Python worker's memory: on a cluster, size
    spark.sql.shuffle.partitions for it (see compact_for_write).
    """
    from pyspark import TaskContext

    batches = list(batches)
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    ctx = TaskContext.get()
    name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.zstd.parquet"
    groups = (
        table.select(parts)
        .append_column("_row", pa.array(range(table.num_rows), pa.int64()))
        .group_by(parts)
        .aggregate([("_row", "list")])
    )
    commits = []
    for g in groups.to_pylist():
        rows = table.take(g["_row_list"]).drop_columns(parts).cast(_FILE_SCHEMA)
        path = "/".join(_part_dir(c, g[c]) for c in parts) + "/" + name
        fs.create_dir(posixpath.dirname(f"{staging}/{path}"))
        pq.write_table(
            rows, f"{staging}/{path}", filesystem=fs, row_group_size=rows.num_rows,
            compression="zstd", compression_level=3, use_dictionary=_DICTIONARY,
        )
        commits.append(
            dict(
                key=path.split("/")[0],
                path=path,
                n_docs=rows.num_rows,
                n_err=pc.sum(pc.equal(rows["kind"], "error")).as_py(),
                bytes_in=pc.sum(rows["bytes_in"]).as_py(),
            )
        )
    yield pa.RecordBatch.from_pylist(commits, schema=to_arrow_schema(_COMMIT_SCHEMA))


def commit_output(out_dir: str, staging: str, pending: dict, rows) -> dict:
    """Commit one job's files into ``out_dir`` on the driver and return
    each pending key's counters, keyed by its checkpoint group_id.

    ``staging`` is the job's directory under ``out_dir`` that its tasks
    wrote into; ``pending`` maps each pending key's directory
    (``warc_day=<d>`` or ``group=<g>``) to its group_id; ``rows`` are the
    job's commit rows, one per file, from exactly one successful attempt
    per task. In this order:

    1. The files the rows name move into a fresh tree; any other file in
       ``staging`` (a failed or speculative attempt's) stays behind. Then
       each pending key's directory is replaced by two renames: the old
       one moves aside into ``staging``, the new one moves in. Between the
       two, a reader finds no directory for that key and sees none of its
       rows; a crash there leaves the key so until the next call re-runs
       it. A key without rows is left with no directory.
    2. ``staging`` is deleted, with the old directories and every file no
       row named.
    3. The rows are summed per key into n_docs, n_ok, n_err and bytes_in.

    Done keys' directories, and anything else in ``out_dir``, are not
    touched. The caller then records the keys done in the checkpoint; a
    crash before that leaves them pending, and the next call replaces
    their directories again, so every url is written once. A crashed
    job's staging directory stays behind; readers skip it, as its name
    starts with an underscore.
    """
    fs, root = _filesystem(out_dir)
    staging = f"{root}/{staging}"
    fs.create_dir(f"{staging}/_old")
    for r in rows:
        fs.create_dir(posixpath.dirname(f"{staging}/_new/{r['path']}"))
        fs.move(f"{staging}/{r['path']}", f"{staging}/_new/{r['path']}")
    for d in pending:
        old, new = fs.get_file_info([f"{root}/{d}", f"{staging}/_new/{d}"])
        if old.type != pafs.FileType.NotFound:
            fs.move(old.path, f"{staging}/_old/{d}")
        if new.type != pafs.FileType.NotFound:
            fs.move(new.path, f"{root}/{d}")
    fs.delete_dir(staging)
    stats = {group_id: dict(n_docs=0, n_err=0, bytes_in=0) for group_id in pending.values()}
    for r in rows:
        s = stats[pending[r["key"]]]
        for c in s:
            s[c] += r[c]
    for s in stats.values():
        s["n_ok"] = s["n_docs"] - s["n_err"]
    return stats


def _filesystem(out_dir: str):
    """-> (pyarrow filesystem, path) of a URI or a local path."""
    return pafs.FileSystem.from_uri(out_dir if "://" in out_dir else os.path.abspath(out_dir))


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
    extracted = extract_pages(pages.filter(key.isin(list(pending))), markdown)
    extracted = extracted.withColumn(key_name, key)
    fs, root = _filesystem(out_dir)
    staging = f"_staging-{run_id}"
    write = functools.partial(
        _write_files, fs=fs, staging=f"{root}/{staging}", parts=list(dict.fromkeys([key_name, "warc_day"]))
    )
    try:
        rows = compact_for_write(extracted, files_per_day).mapInArrow(write, _COMMIT_SCHEMA).collect()
    except BaseException:
        if fs.get_file_info(f"{root}/{staging}").type != pafs.FileType.NotFound:
            fs.delete_dir(f"{root}/{staging}")
        raise
    stats = commit_output(out_dir, staging, {_part_dir(key_name, v): k for v, k in pending.items()}, rows)
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
