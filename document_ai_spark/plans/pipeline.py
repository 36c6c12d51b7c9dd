"""End-to-end extraction pipeline with checkpoint/resume (SURVEY.md §3.1).

Each call runs ONE Spark job over every checkpoint key not yet done:

    read pages (parquet/Iceberg layout, partition+column pruned)
      -> filter(key IN pending keys)            # a day filter prunes files
      -> mapInArrow(extract_batch)              # scan-aligned, Arrow batches
      -> repartition(warc_day, bucket)          # the one shuffle
      -> mapInArrow(write_files)                # pyarrow: one zstd file per (task,
                                                # day, key) in a staging directory,
                                                # one commit row per file
      -> collect()                              # one successful attempt per task
    then, on the driver, commit_output replaces the pending keys' files
    with the ones the commit rows name and sums their counters per key,
    and one checkpoint file adds a 'done' row per key.

The rows stay Arrow from the extraction to the file: pyarrow encodes them
in the Python worker, and the JVM runs no parquet writer and no commit
protocol. Every path resolves through ``checkpoint.filesystem``, so a URI
(file://, s3://, hdfs://) works as a local path does.

A key is a warc_day partition value (:func:`run_extraction_by_day`), a url
bucket (:func:`run_extraction`) or a stream epoch
(``streaming.incremental``); all three write one layout,
``warc_day=<d>/part-<key>-<task>-<attempt>.zstd.parquet``. Re-running the
same (pages_path, out_dir, run_dir) skips done keys and replaces the
pending keys' files: resume at partition granularity, exactly-once.
"""

from __future__ import annotations

import functools
import posixpath
import re
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from document_ai_spark.functions.hashing import salted_bucket
from document_ai_spark.operators.extraction import EXTRACTED_SCHEMA, extract_pages
from document_ai_spark.plans import checkpoint as cp
from document_ai_spark.sources.pages import PAGES_SCHEMA
from document_ai_spark.sources.warc import read_warc

FILES_PER_DAY = 8  # the jobs' default bound on files per day directory

# one commit row per written file: its checkpoint key, its path under the
# job's staging directory, and its counters
_COMMIT_SCHEMA = pa.schema(
    [("key", pa.int64()), ("path", pa.string())] + [(c, pa.int64()) for c in ("n_docs", "n_err", "bytes_in")]
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
# the name _write_files gives a file: part-<key>-<task>-<attempt>
_OWN_FILE = re.compile(r"part-(\d+)-\d{5}-\d+\.zstd\.parquet")


def read_pages(spark: SparkSession, pages_path: str) -> DataFrame:
    """Read the pages table (Parquet with Iceberg-style warc_day layout)
    with its declared schema: warc_ts a timestamp, warc_day a string."""
    return spark.read.schema(PAGES_SCHEMA).option("basePath", pages_path).parquet(pages_path)


def compact_for_write(df: DataFrame, files_per_day: int) -> DataFrame:
    """Shuffle so the write emits at most files_per_day files per day
    directory instead of one per upstream task.

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

    TASK-COUNT RULE: one write task per shuffle partition
    (``spark.sql.shuffle.partitions``, the core count unless the launcher
    set it), passed explicitly so AQE does NOT coalesce the write stage
    down to a few tasks and serialize the parquet/zstd encode.
    """
    return _write_shuffle(df, _url_bucket(files_per_day))


def _url_bucket(n: int) -> Column:
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n))


def _write_shuffle(df: DataFrame, bucket: Column) -> DataFrame:
    num_tasks = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(num_tasks, F.col("warc_day"), bucket)


def _day_dir(day) -> str:
    """Hive-style ``warc_day=<d>`` directory, escaped as Spark escapes it."""
    if day is None:
        return "warc_day=__HIVE_DEFAULT_PARTITION__"
    return "warc_day=" + "".join(
        f"%{ord(c):02X}" if ord(c) < 0x20 or c in _ESCAPED else c for c in str(day)
    )


def _write_files(batches, fs, staging: str):
    """The write, as the mapInArrow body after the shuffle: write each
    (``_key``, warc_day) group of this task's rows, without those two
    columns, as one zstd file with one row group to
    ``staging/warc_day=<d>/part-<key>-<task>-<attempt>.zstd.parquet``;
    yield one commit row per file.

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
    name = f"{ctx.partitionId():05d}-{ctx.taskAttemptId()}.zstd.parquet"
    parts = ["_key", "warc_day"]
    groups = (
        table.select(parts)
        .append_column("_row", pa.array(range(table.num_rows), pa.int64()))
        .group_by(parts)
        .aggregate([("_row", "list")])
    )
    commits = []
    for g in groups.to_pylist():
        rows = table.take(g["_row_list"]).drop_columns(parts).cast(_FILE_SCHEMA)
        path = f"{_day_dir(g['warc_day'])}/part-{g['_key']}-{name}"
        fs.create_dir(posixpath.dirname(f"{staging}/{path}"))
        pq.write_table(
            rows, f"{staging}/{path}", filesystem=fs, row_group_size=rows.num_rows,
            compression="zstd", compression_level=3, use_dictionary=_DICTIONARY,
        )
        commits.append(
            dict(
                key=g["_key"],
                path=path,
                n_docs=rows.num_rows,
                n_err=pc.sum(pc.equal(rows["kind"], "error")).as_py(),
                bytes_in=pc.sum(rows["bytes_in"]).as_py(),
            )
        )
    yield pa.RecordBatch.from_pylist(commits, schema=_COMMIT_SCHEMA)


def commit_output(out_dir: str, staging: str, pending, rows) -> dict:
    """Commit one job's files into ``out_dir`` on the driver and return
    each pending key's counters.

    ``staging`` is the job's directory under ``out_dir`` that its tasks
    wrote into; ``pending`` holds the job's checkpoint keys (group_ids);
    ``rows`` are the job's commit rows, one per file, from exactly one
    successful attempt per task. In this order:

    1. Every file in a ``warc_day=<d>/`` directory whose name bears a
       pending key (``part-<key>-<task>-<attempt>.zstd.parquet``) is
       deleted. The commit lists ``out_dir`` once per job, recursively.
    2. The files the rows name move from ``staging`` into their day
       directories. Between steps 1 and 2 a reader misses the pending
       keys' rows but never sees a url twice; a crash there leaves them
       missing until the next call re-runs those keys.
    3. ``staging`` is deleted, with every file no row named (a failed or
       speculative attempt's).
    4. The rows are summed per key into n_docs, n_ok, n_err and bytes_in.

    Done keys' files and every name this commit does not write (Spark's
    ``part-00000-<uuid>.c000...``) are never deleted, so an ``out_dir``
    written before this layout is not migrated: re-running its keys adds
    their rows again. A crash before the caller records the keys done
    leaves them pending, and the next call replaces their files again. A
    crashed job's staging directory stays behind; readers skip it.
    """
    fs, root = cp.filesystem(out_dir)
    staging = f"{root}/{staging}"
    for f in fs.get_file_info(pafs.FileSelector(root, recursive=True, allow_not_found=True)):
        rel = f.path[len(root) + 1 :].split("/")
        own = len(rel) == 2 and rel[0].startswith("warc_day=") and _OWN_FILE.fullmatch(rel[1])
        if own and int(own[1]) in pending:
            fs.delete_file(f.path)
    for r in rows:
        fs.create_dir(posixpath.dirname(f"{root}/{r['path']}"))
        fs.move(f"{staging}/{r['path']}", f"{root}/{r['path']}")
    fs.delete_dir(staging)
    stats = {key: dict(n_docs=0, n_err=0, bytes_in=0) for key in pending}
    for r in rows:
        s = stats[r["key"]]
        for c in s:
            s[c] += r[c]
    for s in stats.values():
        s["n_ok"] = s["n_docs"] - s["n_err"]
    return stats


def write_output(df: DataFrame, out_dir: str, pending) -> dict:
    """Write ``df``, shuffled for the write and keyed by its ``_key``
    column, and commit it for the keys ``pending``; -> their counters.
    The day and url-bucket jobs and each stream epoch all write here."""
    fs, root = cp.filesystem(out_dir)
    staging = f"_staging-{uuid.uuid4().hex[:12]}"
    write = functools.partial(_write_files, fs=fs, staging=f"{root}/{staging}")
    try:
        rows = df.mapInArrow(write, from_arrow_schema(_COMMIT_SCHEMA)).collect()
    except BaseException:
        if fs.get_file_info(f"{root}/{staging}").type != pafs.FileType.NotFound:
            fs.delete_dir(f"{root}/{staging}")
        raise
    return commit_output(out_dir, staging, pending, rows)


def _extract_pending(
    spark: SparkSession,
    pages: DataFrame,
    key: Column,
    key_ids: dict,
    out_dir: str,
    run_dir: str,
    bucket: Column,
    markdown: bool,
) -> dict:
    """The one extraction job behind both entry points.

    ``key`` computes the checkpoint key and gives the same value on a page
    row and on its extracted row; ``key_ids`` maps every key value to its
    checkpoint group_id. Keys without a 'done' row are extracted, and the
    write shuffle partitions by (warc_day, ``bucket``).
    """
    done = cp.done_groups(spark, run_dir)
    pending = {v: k for v, k in key_ids.items() if k not in done}
    run_id = uuid.uuid4().hex[:12]
    summary = {"run_id": run_id, "groups_done_before": len(done), "groups_run": len(pending)}
    if not pending:
        return summary
    started = time.time()
    extracted = extract_pages(pages.filter(key.isin(list(pending))), markdown)
    ids = F.create_map(*[F.lit(x) for kv in pending.items() for x in kv])
    extracted = _write_shuffle(extracted.withColumn("_key", ids[key]), bucket)
    stats = write_output(extracted, out_dir, set(pending.values()))
    cp.append_done(spark, run_dir, run_id, stats, started)
    return summary


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_dir: str,
    n_groups: int = 8,
    files_per_day: int = FILES_PER_DAY,
    source_format: str = "parquet",
    markdown: bool = False,
) -> dict:
    """Run (or resume) the extraction with url-bucket keys. Returns summary
    counters.

    A key is ``salted_bucket(url, n_groups, GROUP_SALT)``, re-derived from
    url after extraction. This is the mode for sources without day
    partitions (``source_format="warc"``) and for targeted re-runs of a
    url subset. The write shuffle gives each key files_per_day // n_groups
    buckets (at least one), so a day gets at most max(files_per_day,
    n_groups) files.

    SCALE FENCE: the bucket filter is a hash of url, which no file format
    can prune, so every call scans the whole source once, however few keys
    are pending. The production path is :func:`run_extraction_by_day`,
    whose day filter prunes the scan to the pending days' files.
    tests/test_plans.py pins both the fence and the day-mode pruning.
    """
    readers = {"parquet": read_pages, "warc": read_warc}
    if source_format not in readers:
        raise ValueError(f"unknown source_format {source_format!r}: expected 'parquet' or 'warc'")
    group = salted_bucket(F.col("url"), n_groups, cp.GROUP_SALT)
    per_key = max(1, files_per_day // n_groups)
    return _extract_pending(
        spark, readers[source_format](spark, pages_path), group, {g: g for g in range(n_groups)},
        out_dir, run_dir, group * per_key + _url_bucket(per_key), markdown,
    )


def load_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the extraction output: every writer's ``warc_day=<d>/`` layout."""
    return spark.read.option("basePath", out_dir).parquet(out_dir)


def list_days(pages_path: str) -> list[str]:
    """warc_day values from the directory layout (Iceberg: partition metadata)."""
    fs, root = cp.filesystem(pages_path)
    names = [f.base_name for f in fs.get_file_info(pafs.FileSelector(root))]
    return sorted(n.split("=", 1)[1] for n in names if n.startswith("warc_day="))


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
    files_per_day: int = FILES_PER_DAY,
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
        spark, read_pages(spark, pages_path), F.col("warc_day"), keys, out_dir, run_dir,
        _url_bucket(files_per_day), markdown,
    )
