"""The extraction output's files and their commit on the driver
(document_ai_spark/plans/pipeline.py: _write_files, commit_output), for
every writer: the day job, the url-bucket job and the stream."""

import collections
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from document_ai_spark.operators.extraction import EXTRACTED_SCHEMA
from document_ai_spark.plans import checkpoint as cp
from document_ai_spark.plans.checkpoint import done_groups
from document_ai_spark.plans.pipeline import commit_output, load_extracted, run_extraction, run_extraction_by_day
from document_ai_spark.streaming.incremental import incremental_extract

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


def _name(key, task, attempt):
    return f"part-{key}-{task:05d}-{attempt}.zstd.parquet"


def _stage(out, staging, day, key, task, attempt, urls, n_err=0):
    """Lay out one task's file of one key in the staging directory; -> its
    commit row."""
    path = f"{day}/{_name(key, task, attempt)}"
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
    """Every url in the directories readers see (no leading underscore),
    one entry per row."""
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
    row = _stage(out, "_staging-r1", D1, 11, 0, 7, ["a", "b"], n_err=1)
    _stage(out, "_staging-r1", D1, 11, 0, 9, ["a", "b"])  # speculative twin

    stats = commit_output(out, "_staging-r1", {11}, [row])

    assert os.listdir(os.path.join(out, D1)) == [_name(11, 0, 7)]
    assert not os.path.exists(os.path.join(out, "_staging-r1"))
    assert os.listdir(out) == [D1]
    assert stats == {11: dict(n_docs=2, n_ok=1, n_err=1, bytes_in=2)}


def test_commit_replaces_pending_keys_and_nothing_else(tmp_path):
    """A pending key's stale file is gone and a pending key without rows is
    left with no file. A done key's file in the same day, a done key's own
    day, a Spark-written file in a pending day, a name the commit does not
    write, a pending key's name outside a day directory (a crashed job's
    staging, another directory) and a run directory inside out_dir are
    untouched."""
    out = str(tmp_path / "out")
    _put(os.path.join(out, D1, _name(1, 3, 2)), ["stale"])
    _put(os.path.join(out, D2, _name(2, 0, 1)), ["gone"])
    _put(os.path.join(out, D1, _name(5, 0, 1)), ["done-same-day"])
    _put(os.path.join(out, D3, _name(3, 0, 1)), ["kept"])
    _put(os.path.join(out, D2, "part-00000-8f3c2a1e-5b7d-4c9e-a2f1-0d6b3e9c7a45.c000.zstd.parquet"), ["spark"])
    _put(os.path.join(out, D2, "part-00001-12.zstd.parquet"), ["older-layout"])
    _put(os.path.join(out, "_checkpoint", "checkpoint", "cp-r0.parquet"), ["run"])
    _put(os.path.join(out, "_staging-r0", D1, _name(1, 0, 1)), ["crashed-job"])
    _put(os.path.join(out, "other", _name(1, 0, 1)), ["not-a-day"])
    before = {p: b for p, b in _tree(out).items() if not p.startswith((f"{D1}/part-1-", f"{D2}/part-2-"))}
    rows = [
        _stage(out, "_staging-r1", D1, 1, 0, 1, ["a", "b"]),
        _stage(out, "_staging-r1", D2, 1, 1, 2, ["c"]),
    ]

    stats = commit_output(out, "_staging-r1", {1, 2}, rows)

    after = _tree(out)
    assert sorted(p for p in after if p.startswith((f"{D1}/part-1-", f"{D2}/part-1-", f"{D2}/part-2-"))) == [
        f"{D1}/{_name(1, 0, 1)}",
        f"{D2}/{_name(1, 1, 2)}",
    ]
    assert {p: b for p, b in after.items() if p in before} == before
    assert set(after) == set(before) | {f"{D1}/{_name(1, 0, 1)}", f"{D2}/{_name(1, 1, 2)}"}
    assert _urls(out) == ["a", "b", "c", "done-same-day", "kept", "not-a-day", "older-layout", "spark"]
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

    def stage(run_id, attempt):
        """The tasks of one job over the keys not yet done."""
        pending = {g for g in keys.values() if g not in done_groups(spark, run)}
        rows = [_stage(out, f"_staging-{run_id}", d, g, 0, attempt, urls[d]) for d, g in keys.items() if g in pending]
        return pending, rows

    pending, rows = stage("r1", 1)
    cp.append_done(spark, run, "r1", commit_output(out, "_staging-r1", {1}, rows[:1]), 0.0)
    pending, rows = stage("r2", 2)
    assert pending == {2, 3}
    stats = commit_output(out, "_staging-r2", pending, rows)
    monkeypatch.setattr(pq, "write_table", _torn_write)
    with pytest.raises(OSError, match="disk gone"):
        cp.append_done(spark, run, "r2", stats, 0.0)
    monkeypatch.undo()
    assert done_groups(spark, run) == {1}
    assert _urls(out) == ["a", "b", "c", "d", "e"]

    pending, rows = stage("r3", 3)
    assert pending == {2, 3}
    cp.append_done(spark, run, "r3", commit_output(out, "_staging-r3", pending, rows), 0.0)
    assert done_groups(spark, run) == {1, 2, 3}
    assert _urls(out) == ["a", "b", "c", "d", "e"]
    assert os.listdir(os.path.join(out, D1)) == [_name(1, 0, 1)]
    assert os.listdir(os.path.join(out, D2)) == [_name(2, 0, 3)]


def _check_files(out, files_per_day):
    """Check the physical format of every output file and -> url -> (day
    directory, row) read with pyarrow, so no session time zone is
    involved. At most files_per_day files per day for each key: a day or
    stream-epoch key is one job's or epoch's whole day."""
    got = {}
    days = sorted(d for d in os.listdir(out) if not d.startswith("_"))
    assert len(days) == 4 and all(d.startswith("warc_day=") for d in days)
    for d in days:
        names = os.listdir(os.path.join(out, d))
        assert names and all(re.fullmatch(r"part-\d+-\d{5}-\d+\.zstd\.parquet", n) for n in names)
        per_key = collections.Counter(n.split("-")[1] for n in names)
        assert max(per_key.values()) <= files_per_day
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
            t = f.read()
            for row, ts in zip(t.to_pylist(), t["warc_ts"].cast(pa.int64()).to_pylist()):
                assert row["url"] not in got
                got[row["url"]] = (d, ts, row)
    return got


def test_output_files_physical_format(spark, pages_dir, tmp_path):
    """The three writers of extraction output (the day job, the url-bucket
    job and the incremental stream), each run from a New York session
    over the same pages, write one layout: every file zstd, one row
    group, no partition column, warc_ts INT64 UTC microseconds, at most
    files_per_day files per day for the day job and for the url-bucket
    job as a whole; the same rows per url; and Spark reads back the
    schema Spark's own writer gave, warc_day inferred as a date, with no
    url-bucket column."""
    outs = {w: str(tmp_path / w) for w in ("day", "bucket", "stream")}
    with session_time_zone(spark, "America/New_York"):
        run_extraction_by_day(spark, pages_dir, outs["day"], str(tmp_path / "run_day"), files_per_day=2)
        run_extraction(spark, pages_dir, outs["bucket"], str(tmp_path / "run_bucket"), n_groups=4)
        incremental_extract(spark, pages_dir, outs["stream"], str(tmp_path / "ckpt"))
    bound = {"day": 2, "bucket": 8, "stream": 8}
    got = {w: _check_files(out, bound[w]) for w, out in outs.items()}
    for w in ("day", "bucket"):
        days = [d for d in os.listdir(outs[w]) if not d.startswith("_")]
        assert all(len(os.listdir(os.path.join(outs[w], d))) <= bound[w] for d in days)

    pages = pq.read_table(pages_dir, columns=["url", "warc_ts"])
    want_ts = dict(zip(pages["url"].to_pylist(), pages["warc_ts"].cast(pa.int64()).to_pylist()))
    assert {u: ts for u, (_, ts, _) in got["day"].items()} == want_ts
    assert got["day"] == got["bucket"] == got["stream"]

    want = T.StructType(
        [f for f in EXTRACTED_SCHEMA.fields if f.name != "warc_day"]
        + [T.StructField("warc_day", T.DateType())]
    )
    assert {w: load_extracted(spark, out).schema for w, out in outs.items()} == dict.fromkeys(outs, want)
