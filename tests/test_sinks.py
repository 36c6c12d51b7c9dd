"""Collection maintenance sinks (SURVEY.md S5/S7/J4/X7): append, reset,
delete-by-hash, force-readd — reference analogs of ChromaDB collection ops
(services/ai_service/main.py:64-72,125-126,186-198)."""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from document_ai_spark.sinks.collection import (
    append_chunks,
    delete_by_hash,
    force_readd,
    read_collection,
    reset_collection,
)


def _chunks(spark, ids):
    return spark.createDataFrame(
        [(f"h{i}", f"url{i}", f"text {i}") for i in ids],
        "doc_hash string, url string, chunk_text string",
    )


def test_append_and_reset(spark, tmp_path):
    path = os.path.join(str(tmp_path), "col")
    append_chunks(_chunks(spark, range(5)), path)
    append_chunks(_chunks(spark, range(5, 8)), path)
    assert read_collection(spark, path).count() == 8
    reset_collection(spark, path, like=_chunks(spark, []))
    df = read_collection(spark, path)
    assert df.count() == 0
    assert df.columns == ["doc_hash", "url", "chunk_text"]


def test_delete_by_hash(spark, tmp_path):
    path = os.path.join(str(tmp_path), "col")
    append_chunks(_chunks(spark, range(10)), path)
    doomed = spark.createDataFrame([("h2",), ("h7",), ("h404",)], "doc_hash string")
    n = delete_by_hash(spark, path, doomed)
    assert n == 2
    left = {r.doc_hash for r in read_collection(spark, path).collect()}
    assert left == {f"h{i}" for i in range(10)} - {"h2", "h7"}


def test_delete_by_hash_failed_swap_keeps_collection(spark, tmp_path, monkeypatch):
    # the rewrite is written, then moving it into place at ``path`` fails
    # (the first rename onto ``path``): the original collection must
    # still be readable there
    path = os.path.join(str(tmp_path), "col")
    append_chunks(_chunks(spark, range(10)), path)
    rename, failed = os.rename, []

    def failing_rename(src, dst):
        if dst == path and not failed:
            failed.append(src)
            raise OSError("injected rename failure")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    doomed = spark.createDataFrame([("h2",)], "doc_hash string")
    with pytest.raises(OSError, match="injected"):
        delete_by_hash(spark, path, doomed)
    left = {r.doc_hash for r in read_collection(spark, path).collect()}
    assert left == {f"h{i}" for i in range(10)}


def test_force_readd_replaces_matching_hashes(spark, tmp_path):
    path = os.path.join(str(tmp_path), "col")
    append_chunks(_chunks(spark, range(6)), path)
    replacement = spark.createDataFrame(
        [("h3", "url3", "REWRITTEN"), ("h9", "url9", "fresh")],
        "doc_hash string, url string, chunk_text string",
    )
    counters = force_readd(spark, path, replacement)
    assert counters == {"deleted": 1, "added": 2}
    rows = {(r.doc_hash, r.chunk_text) for r in read_collection(spark, path).collect()}
    assert ("h3", "REWRITTEN") in rows
    assert ("h3", "text 3") not in rows
    assert ("h9", "fresh") in rows
    assert read_collection(spark, path).count() == 7


def test_failed_append_leaves_the_collection_unchanged(spark, tmp_path):
    # 4 write tasks; the last one sleeps, so the other three commit first,
    # then raises: the job fails, and no committed task's files may reach
    # the collection (they move in only when the whole job commits)
    path = os.path.join(str(tmp_path), "col")
    append_chunks(_chunks(spark, range(40)).coalesce(1), path)

    def files():
        return sorted(
            os.path.relpath(os.path.join(d, f), path) for d, _, fs in os.walk(path) for f in fs
        )

    before = files()

    @F.udf("string")
    def fail_last(i):
        if i == 299:
            time.sleep(3)
            raise ValueError("planted failure")
        return f"h{i}"

    rows = spark.range(0, 300, 1, 4).select(
        fail_last("id").alias("doc_hash"),
        F.concat(F.lit("url"), F.col("id").cast("string")).alias("url"),
        F.lit("text").alias("chunk_text"),
    )
    with pytest.raises(Exception, match="planted failure"):
        append_chunks(rows, path)
    assert files() == before
    assert read_collection(spark, path).count() == 40


def _jobs(spark, call):
    """Run ``call()``; return its result and the number of Spark jobs it ran."""
    sc, group = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(group, "counted")
    try:
        result = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_collection_counters_come_from_the_write(spark, tmp_path):
    """delete_by_hash counts its input from the parquet footers and the kept
    rows in the rewrite; force_readd counts the added rows in the append.
    Re-counting ran 9 and 12 jobs; inferring the collection's schema with
    a Spark job, 4 and 5."""
    path = os.path.join(str(tmp_path), "col")
    append_chunks(_chunks(spark, range(10)), path)
    doomed = spark.createDataFrame([("h2",), ("h7",), ("h404",)], "doc_hash string")
    assert _jobs(spark, lambda: delete_by_hash(spark, path, doomed)) == (2, 3)
    replacement = _chunks(spark, [3, 12])
    assert _jobs(spark, lambda: force_readd(spark, path, replacement)) == ({"deleted": 1, "added": 2}, 4)
    assert read_collection(spark, path).count() == 9


def _deleted_from(spark, path):
    append_chunks(_chunks(spark, range(6)), path)
    delete_by_hash(spark, path, spark.createDataFrame([("h1",)], "doc_hash string"))


def _nested(spark, path):
    # non-nullable columns, an array, a struct holding a map
    append_chunks(
        spark.range(3).select(
            "id",
            F.array(F.col("id").cast("float")).alias("vec"),
            F.struct(F.col("id").alias("x"), F.create_map(F.lit("k"), F.col("id")).alias("m")).alias("s"),
        ),
        path,
    )


@pytest.mark.parametrize(
    "build",
    [
        lambda spark, path: [append_chunks(_chunks(spark, ids), path) for ids in (range(3), range(3, 5))],
        lambda spark, path: reset_collection(spark, path, like=_chunks(spark, [])),
        _deleted_from,
        _nested,
    ],
    ids=["two-appends", "reset-like", "after-delete", "nested"],
)
def test_read_collection_is_typed_from_the_footer(spark, tmp_path, build):
    """The same schema as Spark's inference, with no Spark job for it (the
    inference ran one)."""
    path = os.path.join(str(tmp_path), "col")
    build(spark, path)
    coll, jobs = _jobs(spark, lambda: read_collection(spark, path))
    assert jobs == 0
    assert coll.schema == spark.read.parquet(path).schema
    assert coll.count() == spark.read.parquet(path).count()


def test_read_collection_of_a_missing_path_raises_as_spark_does(spark, tmp_path):
    """A path without a data file goes to Spark's reader unchanged. This
    passes at the parent too, where read_collection was Spark's reader: it
    pins the fallback."""
    missing = os.path.join(str(tmp_path), "nothing-here")
    with pytest.raises(Exception) as spark_error:
        spark.read.parquet(missing)
    with pytest.raises(Exception) as ours:
        read_collection(spark, missing)
    assert type(ours.value) is type(spark_error.value)
    assert "PATH_NOT_FOUND" in str(ours.value)
