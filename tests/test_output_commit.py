"""The extraction job's output files and their commit on the driver
(document_ai_spark/plans/pipeline.py: _write_files, commit_output)."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from document_ai_spark.operators.extraction import EXTRACTED_SCHEMA
from document_ai_spark.plans import checkpoint as cp
from document_ai_spark.plans.checkpoint import done_groups
from document_ai_spark.plans.pipeline import commit_output, load_extracted, run_extraction_by_day

from .conftest import session_time_zone
from .test_checkpoint_resume import _torn_write

D1, D2, D3 = "warc_day=2024-03-01", "warc_day=2024-03-02", "warc_day=2024-03-03"


class _NoSpark:
    """What append_done reads from its session: the commit tests run no
    Spark."""

    class sparkContext:
        applicationId = "local-test"


def _put(path, urls):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"url": urls, "bytes_in": [len(u) for u in urls]}), path)


def _stage(out, staging, key, name, urls, n_err=0):
    """Lay out one task's file in the staging directory; -> its commit row."""
    path = f"{key}/{name}"
    _put(os.path.join(out, staging, path), urls)
    return dict(key=key, path=path, n_docs=len(urls), n_err=n_err, bytes_in=sum(map(len, urls)))


def _tree(root):
    """relative path -> file bytes, for every file under root."""
    return {
        os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
        for d, _, names in os.walk(root)
        for f in names
    }


def _urls(out):
    """Every url in the output's key directories, one entry per row."""
    return sorted(
        u
        for d in os.listdir(out)
        if not d.startswith("_")
        for f in os.listdir(os.path.join(out, d))
        for u in pq.read_table(os.path.join(out, d, f))["url"].to_pylist()
    )


def test_commit_moves_only_the_files_its_rows_name(tmp_path):
    """A second attempt's file that no commit row names stays out of the
    output and is gone with the staging directory."""
    out = str(tmp_path / "out")
    row = _stage(out, "_staging-r1", D1, "part-00000-7.zstd.parquet", ["a", "b"], n_err=1)
    _stage(out, "_staging-r1", D1, "part-00000-9.zstd.parquet", ["a", "b"])  # speculative twin

    stats = commit_output(out, "_staging-r1", {D1: 11}, [row])

    assert os.listdir(os.path.join(out, D1)) == ["part-00000-7.zstd.parquet"]
    assert not os.path.exists(os.path.join(out, "_staging-r1"))
    assert os.listdir(out) == [D1]
    assert stats == {11: dict(n_docs=2, n_ok=1, n_err=1, bytes_in=2)}


def test_commit_replaces_pending_keys_and_nothing_else(tmp_path):
    """A pending key's stale file is gone, a pending key without rows is
    left with no directory, and a done key and a run directory inside
    out_dir are untouched."""
    out = str(tmp_path / "out")
    _put(os.path.join(out, D1, "part-old.zstd.parquet"), ["stale"])
    _put(os.path.join(out, D2, "part-old.zstd.parquet"), ["gone"])
    _put(os.path.join(out, D3, "part-done.zstd.parquet"), ["kept"])
    _put(os.path.join(out, "_checkpoint", "checkpoint", "cp-r0.parquet"), ["run"])
    before = {p: b for p, b in _tree(out).items() if p.startswith((D3, "_checkpoint"))}
    rows = [
        _stage(out, "_staging-r1", D1, "part-00000-1.zstd.parquet", ["a", "b"]),
        _stage(out, "_staging-r1", D1, "part-00001-2.zstd.parquet", ["c"]),
    ]

    stats = commit_output(out, "_staging-r1", {D1: 1, D2: 2}, rows)

    after = _tree(out)
    assert sorted(p for p in after if p.startswith(D1)) == [
        f"{D1}/part-00000-1.zstd.parquet",
        f"{D1}/part-00001-2.zstd.parquet",
    ]
    assert not os.path.exists(os.path.join(out, D2))
    assert {p: b for p, b in after.items() if p.startswith((D3, "_checkpoint"))} == before
    assert _urls(out) == ["a", "b", "c", "kept"]
    assert stats == {
        1: dict(n_docs=3, n_ok=3, n_err=0, bytes_in=3),
        2: dict(n_docs=0, n_ok=0, n_err=0, bytes_in=0),
    }


def test_a_crash_before_the_checkpoint_reruns_the_committed_keys(tmp_path, monkeypatch):
    """The job's files moved in, then its checkpoint append tore: those
    keys stay pending, the next call re-runs exactly them, and every url
    is in the output once."""
    out = str(tmp_path / "out")
    run = os.path.join(out, "_checkpoint")
    spark = _NoSpark()
    keys = {D1: 1, D2: 2, D3: 3}
    urls = {D1: ["a", "b"], D2: ["c"], D3: ["d", "e"]}

    def stage(run_id):
        """The tasks of one job over the keys not yet done."""
        pending = {d: g for d, g in keys.items() if g not in done_groups(spark, run)}
        rows = [_stage(out, f"_staging-{run_id}", d, f"part-{run_id}.zstd.parquet", urls[d]) for d in pending]
        return pending, rows

    pending, rows = stage("r1")
    cp.append_done(spark, run, "r1", commit_output(out, "_staging-r1", {D1: 1}, rows[:1]), 0.0)
    pending, rows = stage("r2")
    assert pending == {D2: 2, D3: 3}
    stats = commit_output(out, "_staging-r2", pending, rows)
    monkeypatch.setattr(pq, "write_table", _torn_write)
    with pytest.raises(OSError, match="disk gone"):
        cp.append_done(spark, run, "r2", stats, 0.0)
    monkeypatch.undo()
    assert done_groups(spark, run) == {1}
    assert _urls(out) == ["a", "b", "c", "d", "e"]

    pending, rows = stage("r3")
    assert pending == {D2: 2, D3: 3}
    cp.append_done(spark, run, "r3", commit_output(out, "_staging-r3", pending, rows), 0.0)
    assert done_groups(spark, run) == {1, 2, 3}
    assert _urls(out) == ["a", "b", "c", "d", "e"]
    assert sorted(os.listdir(os.path.join(out, D2))) == ["part-r3.zstd.parquet"]


def test_output_files_physical_format(spark, pages_dir, tmp_path):
    """Every output file: zstd, one row group, no partition column, warc_ts
    INT64 UTC microseconds (also from a New York session); at most
    files_per_day files per day; Spark reads back the schema Spark's own
    writer gave, warc_day inferred as a date, and each url's warc_ts is
    its input's."""
    out = str(tmp_path / "out")
    with session_time_zone(spark, "America/New_York"):
        run_extraction_by_day(spark, pages_dir, out, str(tmp_path / "run"), files_per_day=2)
    days = sorted(d for d in os.listdir(out) if not d.startswith("_"))
    assert len(days) == 4 and all(d.startswith("warc_day=") for d in days)
    got_ts = {}
    for d in days:
        names = os.listdir(os.path.join(out, d))
        assert 1 <= len(names) <= 2
        for name in names:
            f = pq.ParquetFile(os.path.join(out, d, name))
            md = f.metadata
            assert md.num_row_groups == 1
            assert {md.row_group(0).column(i).compression for i in range(md.num_columns)} == {"ZSTD"}
            assert "warc_day" not in f.schema_arrow.names
            assert f.schema_arrow.field("warc_ts").type == pa.timestamp("us", tz="UTC")
            ts = f.schema.column(f.schema_arrow.get_field_index("warc_ts"))
            logical = json.loads(ts.logical_type.to_json())
            assert ts.physical_type == "INT64" and logical["isAdjustedToUTC"] is True
            assert logical["timeUnit"] == "microseconds"
            t = f.read(columns=["url", "warc_ts"])
            got_ts.update(zip(t["url"].to_pylist(), t["warc_ts"].cast(pa.int64()).to_pylist()))
    pages = pq.read_table(pages_dir, columns=["url", "warc_ts"])
    assert got_ts == dict(zip(pages["url"].to_pylist(), pages["warc_ts"].cast(pa.int64()).to_pylist()))

    want = T.StructType(
        [f for f in EXTRACTED_SCHEMA.fields if f.name != "warc_day"]
        + [T.StructField("warc_day", T.DateType())]
    )
    assert load_extracted(spark, out).schema == want
