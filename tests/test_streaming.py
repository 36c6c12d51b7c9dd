"""Structured Streaming path (SURVEY.md ST1): incremental extraction
through the batch jobs' write and commit, exactly-once also when an epoch
is replayed, + windowed event aggregation."""

import os

from pyspark.sql import functions as F

from document_ai_spark.sources.pages import write_pages_parquet
from document_ai_spark.streaming.incremental import (
    incremental_extract,
    run_windowed_stream,
    windowed_event_counts,
)
from tests.conftest import SF_TINY


def test_incremental_extract_picks_up_new_files_once(spark, tmp_path):
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    write_pages_parquet(pages, 60, seed=42)
    incremental_extract(spark, pages, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 60

    # no new files -> second trigger adds nothing (exactly-once)
    incremental_extract(spark, pages, out, ckpt)
    assert spark.read.parquet(out).count() == 60

    # drop new page files in (webhook-arrival analog) -> only delta processed
    write_pages_parquet(os.path.join(pages, "late"), 25, seed=99)
    incremental_extract(spark, pages, out, ckpt)
    df = spark.read.parquet(out)
    assert df.count() == 85  # 60 + 25, each file processed exactly once

    # third trigger with nothing new: still 85 (idempotent)
    incremental_extract(spark, pages, out, ckpt)
    assert spark.read.parquet(out).count() == 85


def test_replayed_epoch_replaces_its_own_files(spark, tmp_path):
    """A crash after an epoch's output landed but before the stream logged
    the epoch (its file under commits/ deleted): the re-run replays the
    epoch, which replaces its own files instead of adding its rows again."""
    pages, out, ckpt = str(tmp_path / "pages"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    write_pages_parquet(pages, 60, seed=42)
    incremental_extract(spark, pages, out, ckpt)
    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))

    incremental_extract(spark, pages, out, ckpt)
    df = spark.read.parquet(out)
    assert df.count() == df.select("url").distinct().count() == 60


def test_windowed_stream_matches_batch(spark, tmp_path):
    # streaming file source requires a directory; stage the fixture file
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    import shutil

    shutil.copy(f"{SF_TINY}/events.parquet", events_dir / "part-0.parquet")
    streamed = run_windowed_stream(spark, str(events_dir), str(tmp_path / "sck"), "evt_test")
    batch = windowed_event_counts(spark.read.parquet(str(events_dir)))
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions CLOSED by a later event
    must match the batch sessionizer's output for the same input (the open
    tail session per user stays in state pending timeout)."""
    import datetime as dt

    from document_ai_spark.streaming.sessionize import (
        run_sessionize_stream,
        sessionize_batch,
    )

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)

    def ev(eid, uid, minutes, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "click", value, "{}")

    rows = [
        # user 1: two sessions (gap 45 > 30min), second stays open
        ev(1, 1, 0, 1.0), ev(2, 1, 10, 2.0), ev(3, 1, 55, 4.0),
        # user 2: three sessions, last stays open
        ev(4, 2, 0, 1.0), ev(5, 2, 40, 1.0), ev(6, 2, 90, 1.0),
        # user 3: single (open) session -> absent from stream output
        ev(7, 3, 0, 9.0), ev(8, 3, 5, 1.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    out = run_sessionize_stream(
        spark, src, str(tmp_path / "ckpt"), gap_minutes=30, query_name="sess_t"
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in out.collect()
    }

    batch = sessionize_batch(events, gap_minutes=30)
    # expected = every batch session except each user's last (still open)
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("user_id")
    closed = batch.withColumn("max_sid", F.max("session_id").over(w)).filter(
        F.col("session_id") < F.col("max_sid")
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in closed.collect()
    }
    assert got == want
    assert len(want) == 3  # u1: 1 closed, u2: 2 closed, u3: 0


def test_sessionize_stream_out_of_order_batches_absorb_late_events(spark, tmp_path):
    """Pins the documented cross-batch precondition (sessionize_stream_fn
    docstring): a micro-batch delivering an event OLDER than the open
    session's tail absorbs it into the open session — session_start
    extends backward, counts/sums include it, and no already-emitted
    session is reopened or duplicated."""
    import datetime as dt
    import glob
    import os
    import time

    from document_ai_spark.streaming.sessionize import run_sessionize_stream

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)

    def ev(eid, minutes, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), 1, "click", value, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")

    # file 1: an open session [0, 10]; file 2: a LATE event at -20 minutes
    # (older than the open tail), then one at +60 that closes the session.
    # maxFilesPerTrigger=1 makes each file its own micro-batch; the file
    # source orders batches by modification time, pinned via os.utime.
    spark.createDataFrame([ev(1, 0, 1.0), ev(2, 10, 2.0)], schema).coalesce(
        1
    ).write.parquet(src)
    now = time.time()
    for f in glob.glob(os.path.join(src, "*.parquet")):
        os.utime(f, (now - 100, now - 100))
    spark.createDataFrame([ev(3, -20, 4.0), ev(4, 60, 8.0)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    out = run_sessionize_stream(
        spark, src, ckpt, gap_minutes=30, query_name="ooo_t", max_files_per_trigger=1
    )
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    # the emitted session covers the absorbed late event: start extended
    # backward to -20min, end stays 10min, all 3 pre-gap events counted
    assert r.session_start == t0 + dt.timedelta(minutes=-20)
    assert r.session_end == t0 + dt.timedelta(minutes=10)
    assert r.n_events == 3 and r.sum_value == 7.0


def test_sessionize_watermarked_out_of_order_batches_match_batch_twin(spark, tmp_path):
    """The EVENT-TIME WATERMARK sessionizer (round-4): micro-batches
    arriving OUT OF EVENT-TIME ORDER — which the NoTimeout fn's documented
    precondition forbids, and which its absorption rule would answer
    WRONGLY (the late event below would be merged into the open session
    instead of forming its own) — must produce exactly the batch twin's
    sessions for every session the final watermark proves final."""
    import datetime as dt
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from document_ai_spark.streaming.sessionize import (
        run_sessionize_stream_watermarked,
        sessionize_batch,
    )

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)

    def ev(eid, uid, minutes, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "click", value, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "events_src")
    now = time.time()

    def stage(rows, age):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        for f in glob.glob(os.path.join(src, "*.parquet")):
            st = os.stat(f)
            if st.st_mtime > now - 1:  # only the newly written file
                os.utime(f, (now - age, now - age))

    # batch 1: u1 session forming at [200, 210]; u2 in-order at [0, 5]
    stage([ev(1, 1, 200, 1.0), ev(2, 1, 210, 2.0), ev(3, 2, 0, 1.0), ev(4, 2, 5, 1.0)], 300)
    # batch 2: u1 LATE event at minute 100 — 110 min older than the open
    # tail but inside the 2h watermark delay (wm is 210-120=90). It must
    # become ITS OWN session (gap to 200 is 100 > 30); the old fn would
    # absorb it into [200,210] and extend session_start backward. Plus an
    # in-order event extending the open session to 205..210, and a u2
    # event at 120 arriving out of order relative to u1's batch-1 times.
    stage([ev(5, 1, 100, 4.0), ev(6, 1, 205, 8.0), ev(7, 2, 120, 2.0)], 200)
    # batch 3: u1 far-future event — watermark alone would finalize only
    # the older sessions; the runner's sentinel flush drains the rest
    stage([ev(8, 1, 400, 16.0)], 100)

    out = run_sessionize_stream_watermarked(
        spark, src, str(tmp_path / "wm_ckpt"), gap_minutes=30, delay="2 hours",
        query_name="wm_t",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in out.collect()
    }

    # flush=True contract: EXACTLY the batch twin over the (non-dropped)
    # events — no event here exceeds the delay, so that is all of them
    events = spark.read.parquet(src).filter(F.col("user_id") >= 0)
    batch = sessionize_batch(events, gap_minutes=30)
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want
    # the late event formed its own session — the absorption bug is gone
    assert (1, t0 + dt.timedelta(minutes=100), t0 + dt.timedelta(minutes=100), 1, 4.0) in got
    # and the session it could have corrupted has its true boundaries
    assert (1, t0 + dt.timedelta(minutes=200), t0 + dt.timedelta(minutes=210), 3, 11.0) in got
    assert len(got) == 5  # u1: [100], [200-210], [400]; u2: [0,5], [120]
    # input-dir hygiene: the runner's sentinel flush files are removed
    # after termination, so any other consumer of the events directory
    # never observes the synthetic FLUSH_USER_ID rows
    import glob

    assert glob.glob(os.path.join(src, "zzz-wm-flush-*.parquet")) == []
    assert spark.read.parquet(src).filter(F.col("user_id") < 0).count() == 0


def test_sessionize_watermarked_drops_events_beyond_delay(spark, tmp_path):
    """The watermark contract's other half: an event older than the
    watermark itself (disorder beyond the declared delay) is dropped, not
    retro-merged into finalized history."""
    import datetime as dt
    import glob
    import os
    import time

    from document_ai_spark.streaming.sessionize import run_sessionize_stream_watermarked

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)

    def ev(eid, minutes, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), 1, "click", value, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "events_src")
    now = time.time()

    def stage(rows, age):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        for f in glob.glob(os.path.join(src, "*.parquet")):
            st = os.stat(f)
            if st.st_mtime > now - 1:
                os.utime(f, (now - age, now - age))

    stage([ev(1, 0, 1.0), ev(2, 300, 2.0)], 300)  # wm after batch 1: 180
    stage([ev(3, 100, 4.0), ev(4, 310, 8.0)], 200)  # minute-100 event < wm: dropped
    out = run_sessionize_stream_watermarked(
        spark, src, str(tmp_path / "wm_ckpt"), gap_minutes=30, delay="2 hours",
        query_name="wm_drop_t",
    )
    got = {
        (r.session_start, r.session_end, r.n_events, float(r.sum_value))
        for r in out.collect()
    }
    # the minute-100 event (160 min late when wm was already 180) appears
    # NOWHERE — not absorbed, not its own session; everything else drains
    assert got == {
        (t0, t0, 1, 1.0),
        (t0 + dt.timedelta(minutes=300), t0 + dt.timedelta(minutes=310), 2, 10.0),
    }


def test_sessionize_sharded_equals_single_pass(spark):
    """The two-pass (user, day)-sharded form must produce session-identical
    output to the single-pass window form — incl. sessions straddling
    midnight (cut by the shard boundary, re-joined by the merge pass)."""
    import datetime as dt

    from document_ai_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_sharded,
    )

    t0 = dt.datetime(2024, 3, 1, 23, 40, 0)  # near midnight on purpose
    rows = []
    eid = 0

    def ev(uid, minutes, value):
        nonlocal eid
        eid += 1
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "click", value, "{}")

    # user 1: session straddles midnight (events at 23:40, 23:55, 00:05),
    # then a gap, then a second session next day
    rows += [ev(1, 0, 1.5), ev(1, 15, 2.25), ev(1, 25, 4.0), ev(1, 300, 8.0)]
    # user 2: two sessions entirely within single days
    rows += [ev(2, -600, 1.0), ev(2, -590, 1.0), ev(2, 120, 3.0)]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )

    batch = {
        (r.user_id, r.session_id): (r.session_start, r.session_end, r.n_events, float(r.sum_value))
        for r in sessionize_batch(events, gap_minutes=30).collect()
    }
    sharded = {
        (r.user_id, int(r.session_id)): (
            r.session_start, r.session_end, r.n_events, round(float(r.sum_value_dec), 2)
        )
        for r in sessionize_sharded(events, gap_minutes=30).collect()
    }
    assert batch == sharded
    # and the midnight straddler really is ONE session of 3 events
    u1_first = sharded[(1, 1)]
    assert u1_first[2] == 3 and u1_first[3] == 7.75


def test_sessionize_batch_tolerates_hot_user_skew(spark):
    """One power user holding ~15% of all events (the classic skewed key).
    Per-user sessionization REQUIRES all of a user's events in one task —
    the correct mitigations are bounding state per key and AQE skew
    handling, not salting (a salted split would sever sessions at salt
    boundaries). This pins (a) correctness under skew vs a python oracle
    and (b) that the plan still has exactly one user_id shuffle reused by
    both the window and the aggregate."""
    import datetime as dt
    import random

    from document_ai_spark.streaming.sessionize import sessionize_batch

    rng = random.Random(11)
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for eid in range(8000):
        uid = 0 if rng.random() < 0.15 else rng.randrange(1, 100)
        rows.append(
            (
                eid,
                t0 + dt.timedelta(minutes=rng.randrange(0, 7 * 24 * 60)),
                uid,
                "click",
                1.0,
                "{}",
            )
        )
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_batch(events, gap_minutes=30).collect()
    }

    # python oracle: sort each user's events, split on >30min gaps
    by_user = {}
    for eid, ts, uid, _, _, _ in rows:
        by_user.setdefault(uid, []).append((ts, eid))
    want = set()
    for uid, evs in by_user.items():
        evs.sort()
        start = prev = evs[0][0]
        n = 0
        for ts, _ in evs:
            if (ts - prev).total_seconds() > 1800:
                want.add((uid, start, prev, n))
                start, n = ts, 0
            prev = ts
            n += 1
        want.add((uid, start, prev, n))
    assert got == want
    assert sum(1 for u, *_ in got if u == 0) >= 1  # hot user present

    plan = sessionize_batch(events, gap_minutes=30)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1  # window + agg share one shuffle


def _closed(sessions):
    """The sessions of each user but the last: those a later event closed."""
    from pyspark.sql import Window

    last = F.max("session_start").over(Window.partitionBy("user_id"))
    return sessions.withColumn("_last", last).filter(F.col("session_start") < F.col("_last"))


def _rows(df):
    return {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value) for r in df.collect()}


def test_stream_sessionizers_measure_gaps_in_elapsed_time_in_any_zone(spark, tmp_path):
    """Events at 06:50, 07:10 and 09:30 UTC on 2024-03-10, when New York
    moves its clocks forward: the first two are 20 minutes apart, one
    session. Both stream forms must agree with sessionize_batch under a
    New York session time zone (the NoTimeout form on closed sessions)."""
    import datetime as dt

    from document_ai_spark.streaming.sessionize import (
        run_sessionize_stream,
        run_sessionize_stream_watermarked,
        sessionize_batch,
    )
    from tests.conftest import session_time_zone

    utc = dt.timezone.utc
    rows = [
        (eid, dt.datetime(2024, 3, 10, h, m, tzinfo=utc), 1, "click", float(eid), "{}")
        for eid, h, m in ((1, 6, 50), (2, 7, 10), (3, 9, 30))
    ]
    src = str(tmp_path / "events_src")
    with session_time_zone(spark, "America/New_York"):
        events = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        events.coalesce(1).write.parquet(src)
        batch = sessionize_batch(spark.read.parquet(src), gap_minutes=30)
        assert {(r.n_events, r.sum_value) for r in batch.collect()} == {(2, 3.0), (1, 3.0)}

        closed = run_sessionize_stream(spark, src, str(tmp_path / "ck1"), query_name="dst_closed")
        assert _rows(closed) == _rows(_closed(batch))
        drained = run_sessionize_stream_watermarked(spark, src, str(tmp_path / "ck2"), query_name="dst_wm")
        assert _rows(drained) == _rows(batch)


def test_watermarked_stream_leaves_the_events_directory_as_it_found_it(spark, tmp_path):
    """The sentinel files go when the call ends, also when it fails: here
    the delay does not parse, after the sentinels were written."""
    import datetime as dt

    import pytest

    from pyspark.errors import AnalysisException

    from document_ai_spark.streaming.sessionize import run_sessionize_stream_watermarked

    src = str(tmp_path / "events_src")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 1, 8), 1, "click", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(src)
    listing = sorted(os.listdir(src))

    with pytest.raises(AnalysisException, match="CANNOT_PARSE_INTERVAL"):
        run_sessionize_stream_watermarked(spark, src, str(tmp_path / "ck1"), delay="soon")
    assert sorted(os.listdir(src)) == listing

    out = run_sessionize_stream_watermarked(spark, src, str(tmp_path / "ck2"), query_name="wm_clean")
    assert out.count() == 1
    assert sorted(os.listdir(src)) == listing
