"""Per-user sessionization — the custom stateful streaming operator.

The reference has no stateful stream processing at all (SURVEY.md §2.10);
this is the training-pipeline extension: group events by user, close a
session when more than ``gap_minutes`` pass between consecutive events,
emit (user_id, session_start, session_end, n_events, sum_value).

Four entry points, one gap rule:
  * sessionize_batch (q29) — window ops (``_session_id``: lag -> gap flag
    -> running-sum session id) and a groupBy; the DuckDB-checked form,
    used for backfills.
  * sessionize_sharded (q46) — the same rule per (user, day) shard, then
    over the shard sessions; for a pathological hot key (below).
  * run_sessionize_stream (q42) — ``applyInPandasWithState`` under
    NoTimeout: state is the user's open session, O(1) per user, and an
    event beyond the gap emits it. Emits the sessions CLOSED by a later
    event; needs each user's events in event-time order across
    micro-batches.
  * run_sessionize_stream_watermarked (q50) — ``applyInPandasWithState``
    under EventTimeTimeout with a watermark: state buffers the pending
    events, arrival order is free within the delay, and two sentinel
    events drain every session, so it emits exactly sessionize_batch's
    sessions.
Both stream forms stay because they are different contracts, not two
implementations of one: q42 the cheap closed-session operator that a
batch backfill completes, q50 the full drain of out-of-order input.
Both read each event's time as ``unix_micros(ts)`` and emit tz-aware UTC
instants, so their gaps are elapsed time in any session time zone.

Hot-key note (tested in test_sessionize_batch_tolerates_hot_user_skew): a
power user with a large share of events lands wholly in one task — that is
REQUIRED for correctness (gap detection must see the user's full ordered
event list), so url-hash-style salting does NOT apply here (a salted split
would sever sessions at salt boundaries). At 100 TB the mitigations are
AQE skew handling for the surrounding stages, O(1) state per user in the
NoTimeout stream, and for a pathological single key (bot traffic)
``sessionize_sharded``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import os
import re
import time
import warnings

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from document_ai_spark.streaming.memory import run_to_memory

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_start", T.LongType()),  # unix micros
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

WM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ev_ts", T.ArrayType(T.LongType())),  # unix micros
        T.StructField("ev_val", T.ArrayType(T.DoubleType())),
    ]
)

FLUSH_USER_ID = -1  # reserved key carried by the sentinel flush events


def _session_id(partition: list, order: list, start: str, end: str, gap_minutes: int) -> Column:
    """The gap rule as window ops: a row opens a session when it is the
    first of its partition (in ``order``) or its ``start`` lies more than
    ``gap_minutes`` after the previous row's ``end``; the session id is
    the running count of openings."""
    w = Window.partitionBy(*partition).orderBy(*order)
    prev_end = F.lag(end).over(w)
    opens = F.when(
        prev_end.isNull()
        | ((F.unix_timestamp(F.col(start)) - F.unix_timestamp(prev_end)) > F.lit(gap_minutes * 60)),
        1,
    ).otherwise(0)
    return F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions as plain window ops (one shuffle on user_id;
    both window functions and the final aggregate reuse that partitioning)."""
    sid = _session_id(["user_id"], ["ts", "event_id"], "ts", "ts", gap_minutes)
    return (
        events.withColumn("_sid", sid)
        .groupBy("user_id", F.col("_sid").alias("session_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def sessionize_sharded(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Two-pass HOT-KEY-SAFE sessionization — the escape hatch this
    module's header documents for pathological single keys (bot traffic):

      pass 1: sessionize within (user, calendar day of ts) — a bot user's
              billion events split across ~days-many window partitions
              instead of landing wholly in one task;
      pass 2: merge per-shard session INTERVALS across day boundaries
              with the same gap rule (~days rows per user — trivial).

    Produces exactly ``sessionize_batch``'s sessions (same boundaries,
    numbering, and counts) by the gap-merge argument: a split inside a
    shard is also a global split, and a global session cut by a day
    boundary is re-joined in pass 2 iff the boundary gap <= gap — which
    is the same test the single-pass form applies. Event-value sums
    aggregate as DECIMAL(18,6) (exact, associative), so re-aggregating
    shard partials is bit-identical to the single-pass sum regardless of
    partitioning; the caller rounds after a final cast to double.
    """
    sid1 = _session_id(["user_id", "_shard"], ["ts", "event_id"], "ts", "ts", gap_minutes)
    sub = (
        events.withColumn("_shard", F.to_date("ts"))
        .withColumn("_val", F.col("value").cast("decimal(18,6)"))
        .withColumn("_sid", sid1)
        .groupBy("user_id", "_shard", "_sid")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count("*").alias("n"),
            F.sum("_val").alias("v"),
        )
    )
    # pass 2: per-user interval merge (intervals are time-disjoint, so
    # ordering by s_start is total and deterministic)
    sid2 = _session_id(["user_id"], ["s_start", "s_end"], "s_start", "s_end", gap_minutes)
    return (
        sub.withColumn("_sid2", sid2)
        .groupBy("user_id", F.col("_sid2").alias("session_id"))
        .agg(
            F.min("s_start").alias("session_start"),
            F.max("s_end").alias("session_end"),
            F.sum("n").alias("n_events"),
            F.sum("v").alias("sum_value_dec"),
        )
    )


@functools.cache
def _quiet_state_concat() -> None:
    """applyInPandasWithState pads every output batch with all-NA rows
    and concatenates them (pyspark.sql.pandas.serializers), which pandas 2
    warns about each time. Ignore exactly that warning, once per worker."""
    warnings.filterwarnings(
        "ignore",
        message=re.escape(
            "The behavior of DataFrame concatenation with empty or all-NA entries is deprecated"
        ),
        category=FutureWarning,
        module=r"pyspark\.sql\.pandas\.serializers$",
    )


def _read_events(pdfs) -> list:
    """(unix micros, value) of every event in one user's frames, in
    event-time order (ties by value)."""
    _quiet_state_concat()
    return sorted((int(t), float(v)) for pdf in pdfs for t, v in zip(pdf["_us"], pdf["value"]))


def _sessions_frame(user_id: int, sessions: list) -> pd.DataFrame:
    """The emitted rows of one user; ``sessions`` holds (start micros,
    end micros, n_events, sum_value) tuples. The times are tz-aware UTC
    instants, so Spark stores them exactly in any session time zone."""
    start, end, n_events, total = zip(*sessions)
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_start": pd.to_datetime(start, unit="us", utc=True),
            "session_end": pd.to_datetime(end, unit="us", utc=True),
            "n_events": n_events,
            "sum_value": [round(v, 2) for v in total],
        }
    )


def _sessions(events: DataFrame, fn, state_schema: T.StructType, timeout: str) -> DataFrame:
    """Run the update function ``fn`` per user; it reads each event's time
    from ``_us``, ``unix_micros(ts)``."""
    return (
        events.withColumn("_us", F.unix_micros("ts"))
        .groupBy("user_id")
        .applyInPandasWithState(fn, SESSION_SCHEMA, state_schema, "append", timeout)
    )


def sessionize_stream_fn(gap_minutes: int = 30):
    """Returns the (key, batches, state) update function for
    ``applyInPandasWithState(fn, SESSION_SCHEMA, STATE_SCHEMA, "append",
    NoTimeout)``.

    State = the currently-open session for the user. Events are folded in
    event-time order; a gap closes the open session and emits it. The
    user's last session stays in state — a periodic batch backfill
    (sessionize_batch) closes it, which is the cheaper pattern for a
    training-data pipeline where sessions are consumed in bulk.

    CROSS-BATCH ORDERING PRECONDITION (no event-time watermark in the
    state logic): events are sorted WITHIN each micro-batch, but batch-
    equivalent output requires each user's events to arrive in
    non-decreasing event-time order ACROSS micro-batches (true for
    time-ordered file drops / log offsets; __spark_entry__ q42 stages one
    ordered file for exactly this reason). A LATE event — older than the
    open session's tail — is ABSORBED into the open session (it extends
    session_start backward and adds to the counts; it can never reopen or
    corrupt an already-emitted session, and never creates an out-of-order
    duplicate) — tests/test_streaming.py pins this. Sessions the late
    event should have belonged to are healed by the production mitigation:
    a tumbling re-sessionization backfill over sessionize_batch."""
    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs, state):
        out = []
        cur = list(state.get) if state.exists else None
        for t, val in _read_events(pdfs):
            if cur is None:
                cur = [t, t, 1, val]
            elif t - cur[1] > gap_us:
                out.append(tuple(cur))
                cur = [t, t, 1, val]
            else:
                # in-order: extends the tail; LATE (cross-batch) event:
                # absorbed — start may extend backward, never corrupts
                # an already-emitted session (docstring precondition)
                cur = [min(cur[0], t), max(cur[1], t), cur[2] + 1, cur[3] + val]
        if cur is not None:
            state.update(tuple(cur))
        if out:
            yield _sessions_frame(int(key[0]), out)

    return fn


def sessionize_stream_watermark_fn(gap_minutes: int = 30):
    """EVENT-TIME-WATERMARKED sessionizer update function — replaces
    sessionize_stream_fn's cross-batch ordering PRECONDITION with real
    late-data absorption:

      * state BUFFERS the user's pending events (not a folded session),
        so a late event — arriving out of order ACROSS micro-batches —
        slots into its true event-time position before any session
        boundary is decided;
      * a session is EMITTED only once the watermark proves it final:
        ``session_end + gap < watermark`` means no future event (all of
        which have ts >= watermark) can extend or merge it. Emission is
        therefore in event-time order per user, exactly the batch twin's
        sessions, regardless of arrival order within the watermark delay;
      * events older than the watermark itself are dropped (the standard
        watermark contract — Spark bounds disorder, not unboundedly);
      * pending events are held under EventTimeTimeout: the timeout
        timestamp is the earliest instant the oldest pending session can
        finalize, so a user with no new arrivals still emits as the
        watermark passes.

    State per key is O(events inside the gap+delay horizon), not O(all
    events): everything older is finalized and evicted each trigger.
    run_sessionize_stream_watermarked drives it."""
    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs, state):
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        events = list(zip(*state.get)) if state.exists else []
        # an event older than the watermark is beyond the declared disorder bound
        events += [e for e in _read_events(pdfs) if not (wm_ms > 0 and e[0] < wm_us)]
        events.sort()

        # sessionize the buffer; emit the prefix of sessions proven final
        out, i = [], 0
        while i < len(events):
            j = i + 1
            while j < len(events) and events[j][0] - events[j - 1][0] <= gap_us:
                j += 1
            end = events[j - 1][0]
            if not (wm_ms > 0 and end + gap_us < wm_us):
                break  # this session and every later one may still grow
            out.append((events[i][0], end, j - i, sum(v for _, v in events[i:j])))
            i = j

        if i < len(events):
            state.update(([t for t, _ in events[i:]], [v for _, v in events[i:]]))
            # the oldest pending session is final once the watermark passes
            # its current end + gap (a later event may push that out — the
            # next trigger just re-arms the timeout)
            state.setTimeoutTimestamp(max((end + gap_us) // 1000 + 1, wm_ms + 1))
        else:
            state.remove()
        if out:
            yield _sessions_frame(int(key[0]), out)

    return fn


def _flush_path(events_path: str, n: int) -> str:
    return os.path.join(events_path, f"zzz-wm-flush-{n}.parquet")


def _stage_flush_events(events_path: str) -> None:
    """Write the two sentinel events of ``FLUSH_USER_ID`` into
    ``events_path`` with pyarrow, each a file typed like the directory's
    first events file: ``ts`` 10 and 20 years after the last real event,
    every other field null. Their modification times lie in the future,
    so the file source, which orders files by mtime, reads them last."""
    files = ds.dataset(events_path, format="parquet")
    # the horizon derives from the REAL events only (a left-over sentinel
    # must not compound it)
    last = pc.max(files.to_table(columns=["ts"], filter=ds.field("user_id") != FLUSH_USER_ID)["ts"])
    if not last.is_valid:
        raise ValueError("run_sessionize_stream_watermarked: no (non-sentinel) events")
    first = pq.ParquetFile(files.files[0])
    schema = first.schema_arrow
    # Spark writes timestamps as INT96, which reads as timestamp[ns]: the
    # sentinels keep that encoding (Spark cannot read INT64 nanoseconds)
    int96 = first.schema.column(schema.get_field_index("ts")).physical_type == "INT96"
    for n in (1, 2):
        ts = pc.add(last, pa.scalar(dt.timedelta(days=3650 * n)))
        cols = {"user_id": pa.array([FLUSH_USER_ID], schema.field("user_id").type), "ts": pa.repeat(ts, 1)}
        table = pa.table([cols.get(f.name, pa.nulls(1, f.type)) for f in schema], schema=schema)
        dest = _flush_path(events_path, n)
        pq.write_table(table, dest, use_deprecated_int96_timestamps=int96)
        future = time.time() + 3600 * n
        os.utime(dest, (future, future))


def run_sessionize_stream_watermarked(
    spark,
    events_path: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    delay: str = "2 hours",
    query_name: str = "sessions_wm",
) -> DataFrame:
    """Drive the WATERMARKED sessionizer, one file per micro-batch
    (availableNow, memory sink): ``withWatermark(ts, delay)`` +
    EventTimeTimeout. Unlike run_sessionize_stream there is NO cross-batch
    ordering precondition: arrival order may be arbitrary within ``delay``
    (events later than that are dropped — the watermark contract).

    Two sentinel far-future events for the reserved key ``FLUSH_USER_ID``
    run as the LAST two micro-batches (the key is filtered from the
    output). Why two: event-time timeouts fire in a batch whose watermark
    has passed them, and a batch's watermark derives from PREVIOUS batches
    only; trailing no-data micro-batches — the only other place final
    timeouts could fire — are not reliably scheduled under availableNow,
    so emission at termination would be timing-dependent. Sentinel batch 1
    runs at watermark ``max(real ts) - delay``; sentinel batch 2 runs at
    ``sentinel1 - delay`` (far future), firing EVERY remaining timeout.
    Net contract, deterministically: the emitted sessions are EXACTLY the
    batch twin's sessions over the non-dropped events — full drain, in
    event-time order per user.

    The sentinels are staged as ``zzz-wm-flush-N.parquet`` files INSIDE
    ``events_path`` (the flat file source only lists that one directory)
    and are deleted when the call ends, also when it fails, so other
    readers of the events directory never see the synthetic rows."""

    def op(events: DataFrame) -> DataFrame:
        return _sessions(
            events.withWatermark("ts", delay),
            sessionize_stream_watermark_fn(gap_minutes),
            WM_STATE_SCHEMA,
            GroupStateTimeout.EventTimeTimeout,
        )

    try:
        _stage_flush_events(events_path)
        out = run_to_memory(spark, events_path, checkpoint_dir, query_name, op, "append", 1)
    finally:
        for n in (1, 2):
            with contextlib.suppress(FileNotFoundError):
                os.remove(_flush_path(events_path, n))
    return out.filter(F.col("user_id") != F.lit(FLUSH_USER_ID))


def run_sessionize_stream(
    spark,
    events_path: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    query_name: str = "sessions",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive the NoTimeout sessionizer over the events parquet as a stream
    (availableNow, memory sink); returns the sessions CLOSED by a later
    event of the same user. Each user's last session stays open in state:
    under NoTimeout nothing flushes it (sessionize_batch over the same
    events gives it).

    ``max_files_per_trigger`` splits availableNow into multiple
    micro-batches (that many files per batch) — used by tests to exercise
    cross-batch state behavior."""

    def op(events: DataFrame) -> DataFrame:
        return _sessions(
            events, sessionize_stream_fn(gap_minutes), STATE_SCHEMA, GroupStateTimeout.NoTimeout
        )

    return run_to_memory(
        spark, events_path, checkpoint_dir, query_name, op, "append", max_files_per_trigger
    )
