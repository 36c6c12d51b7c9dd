"""Collection (chunk-store) maintenance sinks: append, reset, force-readd.

Capability analogs of the reference's ChromaDB collection operations:
  * append_chunks  — vectorstore.add_texts upsert
    (reference services/ai_service/add_documents.py:64-67)
  * reset_collection — delete + recreate the collection
    (reference services/ai_service/main.py:64-72, app.py:269-275)
  * delete_by_hash / force_readd — find ids where file_hash matches and
    delete them so a doc can be re-added
    (reference services/ai_service/main.py:125-126,186-198)

Local storage is Parquet; on a cluster these become Iceberg statements —
the Iceberg SQL equivalent is noted per function. The Parquet fallback for
deletion is rewrite-via-anti-join: read, LEFT ANTI JOIN the doomed keys,
overwrite. At Iceberg scale that is `MERGE INTO ... WHEN MATCHED THEN
DELETE` / `DELETE FROM`, which rewrites only the touched files.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_ai_spark.plans.checkpoint import filesystem

# the key under which Spark's parquet writer stores the row schema as JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def append_chunks(df: DataFrame, path: str) -> None:
    """Append chunk rows to the collection (Iceberg: `df.writeTo(t).append()`)."""
    df.write.mode("append").parquet(path)


def read_collection(spark: SparkSession, path: str) -> DataFrame:
    """The collection at ``path``, typed from its own footer: the same
    DataFrame as ``spark.read.parquet(path)`` without the Spark job that
    infers its schema.

    Spark's parquet writer stores the row schema as JSON under
    ``org.apache.spark.sql.parquet.row.metadata``, and Spark's inference
    reads exactly that key from one data file, assuming every file under
    the path shares its schema. This reads the key on the driver with
    pyarrow from the first ``*.parquet`` data file by name (``_``/``.``
    files skipped) and hands the schema to the reader, which makes every
    field nullable as inference does. A path with no such file (a
    missing collection among them) or whose file lacks the key goes to
    ``spark.read.parquet`` unchanged, so it raises or infers as before."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(path: str) -> T.StructType | None:
    """The Spark schema in the footer of the first data file directly under
    ``path``, or None (see read_collection)."""
    fs, root = filesystem(path)
    if fs.get_file_info(root).type != pafs.FileType.Directory:
        return None
    files = [
        f.path
        for f in fs.get_file_info(pafs.FileSelector(root))
        if f.type == pafs.FileType.File and f.base_name.endswith(".parquet")
        and not f.base_name.startswith(("_", "."))
    ]
    if not files:
        return None
    meta = pq.read_schema(min(files), filesystem=fs).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        return None
    return T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def reset_collection(spark: SparkSession, path: str, like: DataFrame | None = None) -> None:
    """Drop and recreate empty (S7). Iceberg: DROP TABLE + CREATE TABLE.

    ``like``: optional DataFrame whose schema seeds the empty collection so
    readers of a just-reset collection still see the expected columns.
    """
    shutil.rmtree(path, ignore_errors=True)
    if like is not None:
        like.limit(0).write.mode("overwrite").parquet(path)


def delete_by_hash(spark: SparkSession, path: str, hashes: DataFrame) -> int:
    """Delete every row whose ``doc_hash`` appears in ``hashes`` (J4/X7).

    Iceberg: `DELETE FROM t WHERE doc_hash IN (SELECT ...)`. Parquet
    fallback: rewrite via LEFT ANTI JOIN into a temp dir, move the old
    directory aside, move the rewrite in (on failure, move the old one
    back), then remove the old one: no failure leaves ``path`` empty.
    Returns the number of rows deleted.
    """
    cur = read_collection(spark, path)
    doomed = hashes.select("doc_hash").distinct()
    kept = cur.join(F.broadcast(doomed), "doc_hash", "left_anti")
    n_before = ds.dataset(path, format="parquet").count_rows()  # parquet footers, no job
    tmp = tempfile.mkdtemp(prefix="collection_rewrite_", dir=os.path.dirname(path.rstrip("/")))
    # observed directly before the write: counted in the write's result
    # stage, where each task's update is applied once
    n_kept = Observation()
    kept.observe(n_kept, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(tmp)
    old = tmp + "_old"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)
        raise
    shutil.rmtree(old)
    return n_before - n_kept.get["n"]


def force_readd(spark: SparkSession, path: str, new_chunks: DataFrame) -> dict:
    """Delete-then-append (the reference's force_readd=True path): any
    existing rows sharing a hash with ``new_chunks`` are removed, then the
    new rows are appended. Iceberg: one MERGE. Returns counters."""
    deleted = delete_by_hash(spark, path, new_chunks.select("doc_hash").distinct())
    added = Observation()
    append_chunks(new_chunks.observe(added, F.count(F.lit(1)).alias("n")), path)
    return {"deleted": deleted, "added": added.get["n"]}
