"""Checkpoint/resume + exactly-once semantics (SURVEY.md X5, §5.4)."""

import os
import re
import shutil

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from document_ai_spark.functions.hashing import salted_bucket
from document_ai_spark.plans import checkpoint as cp
from document_ai_spark.plans.checkpoint import done_groups, metrics_rollup
from document_ai_spark.plans.pipeline import (
    day_group_key,
    load_extracted,
    run_extraction,
    run_extraction_by_day,
)

from .conftest import session_time_zone


def _drop_checkpoint_rows(run, keys):
    """Remove the checkpoint rows of ``keys``: the state left when the job
    that ran them crashed between its output commit and its checkpoint
    file, while earlier jobs committed the other keys."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = cp.checkpoint_path(run)
    for name in os.listdir(path):
        f = os.path.join(path, name)
        t = pq.read_table(f)
        os.remove(f)
        kept = t.filter(pc.invert(pc.is_in(t["group_id"], pa.array(keys, pa.int32()))))
        if kept.num_rows:
            pq.write_table(kept, f)


def _files(d):
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_mtime_ns
        for root, _, names in os.walk(d)
        for f in names
        if f.endswith(".parquet")
    }


def test_crash_resume_exactly_once(spark, pages_dir, tmp_path):
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    run_extraction(spark, pages_dir, out, run, n_groups=4)
    _drop_checkpoint_rows(run, [1, 3])
    assert done_groups(spark, run) == {0, 2}
    kept = {f: t for f, t in _files(out).items() if os.path.basename(f).startswith(("part-0-", "part-2-"))}
    assert kept

    s = run_extraction(spark, pages_dir, out, run, n_groups=4)
    assert s["groups_done_before"] == 2 and s["groups_run"] == 2
    assert done_groups(spark, run) == {0, 1, 2, 3}
    # only the re-run keys' partitions were rewritten
    assert {f: t for f, t in _files(out).items() if f in kept} == kept

    df = load_extracted(spark, out)
    n, nd = df.count(), df.select("url").distinct().count()
    assert n == nd == 200  # exactly-once: no dup rows from the crashed run


def test_noop_resume(spark, pages_dir, tmp_path):
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    run_extraction(spark, pages_dir, out, run, n_groups=2)
    s = run_extraction(spark, pages_dir, out, run, n_groups=2)
    assert s["groups_run"] == 0


def test_metrics_rollup_counters(spark, pages_dir, tmp_path):
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    run_id = run_extraction(spark, pages_dir, out, run, n_groups=2)["run_id"]
    m = metrics_rollup(spark, run).filter(F.col("run_id") == run_id).collect()[0]
    assert m["n_groups"] == 2 and m["n_docs"] == 200
    # corpus v10 plants exactly one deliberate error row: the /Encrypt'd
    # PDF (labeled isolation) — the rollup must count it, and only it
    assert m["n_err"] == 1 and m["bytes_in"] > 0


@pytest.mark.parametrize("key", ["day", "group"])
def test_checkpoint_counters_match_output(spark, pages_dir, tmp_path, key):
    """The counters observed during the write equal a groupBy of what the
    write committed, key by key."""
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    if key == "day":
        run_extraction_by_day(spark, pages_dir, out, run)
        col, key_id = "warc_day", lambda d: day_group_key(str(d))
    else:
        run_extraction(spark, pages_dir, out, run, n_groups=4)
        col, key_id = "group", int
    want = {
        key_id(r[col]): (r["n_docs"], r["n_err"], r["bytes_in"])
        for r in load_extracted(spark, out)
        .withColumn("group", salted_bucket(F.col("url"), 4, cp.GROUP_SALT))
        .groupBy(col)
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("kind") == "error").alias("n_err"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .collect()
    }
    got = {
        r["group_id"]: (r["n_docs"], r["n_err"], r["bytes_in"])
        for r in cp.read_checkpoint(spark, run).collect()
    }
    assert got == want and sum(n for n, _, _ in got.values()) == 200


@pytest.mark.parametrize("key", ["day", "group"])
def test_checkpoint_inside_out_dir_survives_rerun(spark, pages_dir, tmp_path, key):
    """scripts/extract_job.py keeps its checkpoint at <out_dir>/_checkpoint;
    a re-run that writes must not delete it (nor the done keys' output)."""
    out = str(tmp_path / "out")
    run = os.path.join(out, "_checkpoint")

    def job():
        if key == "day":
            return run_extraction_by_day(spark, pages_dir, out, run)
        return run_extraction(spark, pages_dir, out, run, n_groups=4)

    job()
    done = done_groups(spark, run)
    redo = sorted(done)[0]
    _drop_checkpoint_rows(run, [redo])
    s = job()
    assert s["groups_run"] == 1 and s["groups_done_before"] == len(done) - 1
    assert done_groups(spark, run) == done
    df = load_extracted(spark, out)
    assert df.count() == df.select("url").distinct().count() == 200


def test_unreadable_checkpoint_file_raises(spark, tmp_path):
    """A checkpoint file that cannot be read must raise when the checkpoint
    is read, never turn into an empty checkpoint that re-runs every key."""
    run = str(tmp_path / "run")
    cp.append_done(spark, run, "r1", {0: {"n_docs": 5}}, 0.0)
    with open(os.path.join(cp.checkpoint_path(run), "cp-r2-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet footer")
    with pytest.raises(pa.ArrowInvalid):
        cp.read_checkpoint(spark, run)
    with pytest.raises(pa.ArrowInvalid):
        done_groups(spark, run)
    # a checkpoint that was never written is empty, not an error
    assert done_groups(spark, str(tmp_path / "no_run")) == set()


def _torn_write(table, where, **kw):
    with open(where, "wb") as f:
        f.write(b"PAR1")
    raise OSError("disk gone")


def test_torn_checkpoint_append_is_skipped(spark, tmp_path, monkeypatch):
    """A crash in the middle of one checkpoint append leaves none of its
    keys done and the checkpoint readable."""
    import pyarrow.parquet as pq

    run = str(tmp_path / "run")
    cp.append_done(spark, run, "r1", {0: {"n_docs": 5}}, 0.0)
    monkeypatch.setattr(pq, "write_table", _torn_write)
    with pytest.raises(OSError, match="disk gone"):
        cp.append_done(spark, run, "r2", {1: {"n_docs": 5}, 2: {"n_docs": 7}}, 0.0)
    monkeypatch.undo()
    assert done_groups(spark, run) == {0}


def test_a_job_commits_its_keys_in_one_checkpoint_file(spark, pages_dir, tmp_path, monkeypatch):
    """The day job writes one checkpoint file with a row per day; when that
    write tears, all four days stay pending and the re-run writes each url
    once."""
    import pyarrow.parquet as pq

    out, first = str(tmp_path / "out"), str(tmp_path / "run_a")
    run_extraction_by_day(spark, pages_dir, out, first)
    [name] = os.listdir(cp.checkpoint_path(first))
    assert pq.read_table(os.path.join(cp.checkpoint_path(first), name)).num_rows == 4

    run = str(tmp_path / "run_b")
    monkeypatch.setattr(pq, "write_table", _torn_write)
    with pytest.raises(OSError, match="disk gone"):
        run_extraction_by_day(spark, pages_dir, out, run)
    monkeypatch.undo()
    assert done_groups(spark, run) == set()
    s = run_extraction_by_day(spark, pages_dir, out, run)
    assert s["groups_done_before"] == 0 and s["groups_run"] == 4
    assert len(done_groups(spark, run)) == 4
    df = load_extracted(spark, out)
    assert df.count() == df.select("url").distinct().count() == 200


def test_output_partitioned_by_day(spark, pages_dir, tmp_path):
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    run_extraction(spark, pages_dir, out, run, n_groups=2)
    days = {r["warc_day"] for r in load_extracted(spark, out).select("warc_day").distinct().collect()}
    assert len(days) == 4  # generator spreads warc_ts over 4 days


def test_day_partitioned_pipeline(spark, pages_dir, tmp_path):
    """run_extraction_by_day: partition-pruned day keys in one job; output
    must be byte-identical to the bucket-key pipeline, and re-running must
    skip all done days."""
    s1 = run_extraction_by_day(
        spark, pages_dir, str(tmp_path / "day_out"), str(tmp_path / "day_run"), files_per_day=2
    )
    assert s1["groups_run"] > 0
    run_extraction(
        spark, pages_dir, str(tmp_path / "grp_out"), str(tmp_path / "grp_run"),
        n_groups=4, files_per_day=2,
    )

    def fp(d):
        df = load_extracted(spark, d).select("url", "doc_hash", "text", "spans")
        return sorted((r.url, r.doc_hash, r.text, str(r.spans)) for r in df.collect())

    assert fp(str(tmp_path / "day_out")) == fp(str(tmp_path / "grp_out"))

    s2 = run_extraction_by_day(
        spark, pages_dir, str(tmp_path / "day_out"), str(tmp_path / "day_run")
    )
    assert s2["groups_run"] == 0 and s2["groups_done_before"] == s1["groups_run"]


def test_day_resume_keyed_on_day_value_not_index(spark, pages_dir, tmp_path):
    """Regression (round-2 ADVICE): resume must key on the day VALUE. If a
    lexically-earlier day partition appears between runs (normal
    incremental-crawl case), index-keyed resume would silently skip the new
    day and re-run a done one."""
    days = sorted(d for d in os.listdir(pages_dir) if d.startswith("warc_day="))
    assert len(days) >= 2
    src = str(tmp_path / "pages")
    os.makedirs(src)
    # first run sees every day EXCEPT the earliest
    for d in days[1:]:
        shutil.copytree(os.path.join(pages_dir, d), os.path.join(src, d))
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    s1 = run_extraction_by_day(spark, src, out, run)
    assert s1["groups_run"] == len(days) - 1

    # the earlier day arrives; ONLY it must run, everything done stays done
    shutil.copytree(os.path.join(pages_dir, days[0]), os.path.join(src, days[0]))
    s2 = run_extraction_by_day(spark, src, out, run)
    assert s2["groups_run"] == 1 and s2["groups_done_before"] == len(days) - 1

    new_day = days[0].split("=", 1)[1]
    assert day_group_key(new_day) != day_group_key(days[1].split("=", 1)[1])
    # output now covers all days exactly once
    df = load_extracted(spark, out)
    assert df.count() == df.select("url").distinct().count() == 200


def test_day_mode_rejects_a_path_without_day_partitions(spark, pages_dir, tmp_path):
    """A pages_path with no warc_day=<d> directories (here one day's own
    directory) must raise naming the path, not run zero keys and write
    nothing."""
    first_day = sorted(d for d in os.listdir(pages_dir) if d.startswith("warc_day="))[0]
    day_dir = os.path.join(pages_dir, first_day)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match=re.escape(f"no warc_day=<d> partition directories under {day_dir}")):
        run_extraction_by_day(spark, day_dir, out, str(tmp_path / "run"))
    assert not os.path.exists(out)


def _urls_by_day(root):
    """url -> the warc_day=<d> directory it sits in, read with pyarrow so
    no session time zone is involved."""
    import pyarrow.parquet as pq

    return {
        url: d.split("=", 1)[1]
        for d in os.listdir(root)
        if d.startswith("warc_day=")
        for url in pq.read_table(os.path.join(root, d), columns=["url"]).column("url").to_pylist()
    }


def test_day_mode_keeps_the_input_day_in_any_session_time_zone(spark, pages_dir, tmp_path):
    """A launcher may set spark.sql.session.timeZone. The output day must
    still be the input row's partition value: recomputing it from warc_ts
    in New York time moved urls to the previous day (and into a fifth
    directory), and a one-day resume then overwrote a finished day."""
    want = _urls_by_day(pages_dir)
    out, run = str(tmp_path / "out"), str(tmp_path / "run")
    with session_time_zone(spark, "America/New_York"):
        run_extraction_by_day(spark, pages_dir, out, run)
        assert _urls_by_day(out) == want
        assert len(set(want.values())) == 4

        last = max(want.values())
        _drop_checkpoint_rows(run, [day_group_key(last)])
        s = run_extraction_by_day(spark, pages_dir, out, run)
        assert s["groups_run"] == 1
        assert _urls_by_day(out) == want
        df = load_extracted(spark, out)
        assert df.count() == df.select("url").distinct().count() == 200


def test_uri_paths_resume(spark, pages_dir, tmp_path, monkeypatch):
    """file:// URIs for the pages, out and run dirs: the job lists days,
    reads and writes its checkpoint and commits through one pyarrow
    filesystem, so the second call runs no key, and no ``file:``
    directory appears under the working directory."""
    import pathlib

    monkeypatch.chdir(tmp_path)
    pages, out, run = pathlib.Path(pages_dir).as_uri(), (tmp_path / "out").as_uri(), (tmp_path / "run").as_uri()
    assert run_extraction_by_day(spark, pages, out, run)["groups_run"] == 4
    s = run_extraction_by_day(spark, pages, out, run)
    assert s["groups_run"] == 0 and s["groups_done_before"] == 4
    assert not [n for n in os.listdir(tmp_path) if n.startswith("file:")]
    df = load_extracted(spark, out)
    assert df.count() == df.select("url").distinct().count() == 200


def test_unknown_source_format_raises(spark, pages_dir, tmp_path):
    """A source_format other than parquet or warc raises naming it; it
    used to read the pages as parquet."""
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="unknown source_format 'orc'"):
        run_extraction(spark, pages_dir, out, str(tmp_path / "run"), source_format="orc")
    assert not os.path.exists(out)
