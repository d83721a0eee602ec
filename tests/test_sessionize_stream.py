"""Streaming sessionization: a chunked streaming replay must produce
exactly the batch gaps-and-islands sessions (streaming/sessionize_stream
vs relational.sessionize_events), including the per-row cents rounding."""
from __future__ import annotations

import os
import time

import pandas as pd

from obadiah_spark.streaming.sessionize_stream import (
    EVENTS_IN_SCHEMA, _cents, sessionize_stream)

GAP_MIN = 30
_GAP_US = GAP_MIN * 60 * 1_000_000


def _fixture_rows() -> list[tuple[int, int, int, float]]:
    """(event_id, ts_us, user_id, value): 4 users, sessions that straddle
    the 3-chunk replay boundaries, exact-gap edges (== gap is SAME
    session; the batch rule is gap > threshold), and sub-cent values
    that exercise the HALF_UP rounding."""
    rows = []
    eid = 0
    for u in range(4):
        t = 1_700_000_000_000_000 + u * 17
        for s in range(3):
            for k in range(5 + u):
                rows.append((eid, t, u, 0.005 + u * 1.135 + k * 2.675))
                eid += 1
                if k == 2 and s == 1:
                    t += _GAP_US          # exactly the gap: same session
                else:
                    t += 60 * 1_000_000   # 1 min
            t += _GAP_US + 1              # breaks the session
    rows.sort(key=lambda r: (r[1], r[0]))
    return rows


def _replay(spark, tmp_path, rows, chunks=3, flush=True,
            name="sess_stream_out"):
    src = tmp_path / "ev_stream"
    src.mkdir(exist_ok=True)
    per = (len(rows) + chunks - 1) // chunks
    now = time.time()
    cols = ["event_id", "ts_us", "user_id", "value"]
    parts = [rows[i * per:(i + 1) * per] for i in range(chunks)]
    if flush:
        # one sentinel per user, in a final micro-batch
        users = sorted({r[2] for r in rows})
        last = max(r[1] for r in rows)
        parts.append([(-1 - u, last + 1, u, 0.0) for u in users])
    for i, part in enumerate(parts):
        f = src / f"{i:03d}.parquet"
        pd.DataFrame(part, columns=cols).to_parquet(f)
        os.utime(f, (now + 10 * i, now + 10 * i))
    stream = (spark.readStream.schema(EVENTS_IN_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (sessionize_stream(stream, gap_minutes=GAP_MIN)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return {(r.user_id, r.session_no, r.start_us, r.end_us,
             r.n_events, r.value_cents)
            for r in spark.table(name).collect()}


def _batch_sessions(spark, rows):
    from pyspark.sql import functions as F

    from obadiah_spark.relational import sessionize_events
    df = spark.createDataFrame(rows, EVENTS_IN_SCHEMA).select(
        "event_id", F.timestamp_micros("ts_us").alias("ts"),
        "user_id", "value")
    out = sessionize_events(spark, gap_minutes=GAP_MIN, events=df).select(
        "user_id", "session_no",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events", "value_cents")
    return {tuple(r) for r in out.collect()}


def test_stream_replay_equals_batch_fixture(spark, tmp_path):
    rows = _fixture_rows()
    batch = _batch_sessions(spark, rows)
    streamed = _replay(spark, tmp_path, rows)
    assert streamed == batch
    # non-vacuous: multiple sessions per user, sub-cent rounding hit
    assert len({(u, s) for u, s, *_ in batch}) >= 8


def test_stream_replay_equals_batch_real_fabric(spark, tmp_path, sf_dir):
    """The sf events fabric end-to-end: every user, every session, every
    cents sum — bit-equal between the stateful stream and the batch
    window program (which is itself DuckDB-oracle-hashed as the
    sessionize_events gate)."""
    from pyspark.sql import functions as F

    from obadiah_spark.session import read_table
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "value")
    rows = [tuple(r) for r in ev.collect()]
    rows.sort(key=lambda r: (r[1], r[0]))
    assert len(rows) > 100
    batch = _batch_sessions(spark, rows)
    streamed = _replay(spark, tmp_path, rows, chunks=4,
                       name="sess_stream_fabric")
    assert streamed == batch


def test_open_session_held_without_flush(spark, tmp_path):
    """No sentinel → each user's LAST session stays open in state and is
    NOT emitted (append semantics); everything closed matches batch."""
    rows = _fixture_rows()
    batch = _batch_sessions(spark, rows)
    streamed = _replay(spark, tmp_path, rows, flush=False,
                       name="sess_stream_noflush")
    last = {(u, max(s for uu, s, *_ in batch if uu == u))
            for u in {r[2] for r in rows}}
    expect = {t for t in batch if (t[0], t[1]) not in last}
    assert streamed == expect


def test_cents_rounding_matches_spark(spark):
    """_cents must reproduce round(value*100, 0)::bigint exactly on the
    fabric's doubles AND on adversarial half-cent values."""
    from pyspark.sql import functions as F
    vals = ([0.005, 0.015, 2.675, 1.135, -0.005, -2.675, 0.0, 123.456]
            + [i * 0.135 for i in range(200)])
    df = spark.createDataFrame([(v,) for v in vals], "value double").select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"))
    got = [r.c for r in df.collect()]
    assert got == [_cents(v) for v in vals]


class _FakeState:
    """Minimal GroupState stand-in for driving the fold directly."""

    def __init__(self, row=None, timed_out=False):
        self._row = row
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._row is not None

    @property
    def get(self):
        return self._row

    def update(self, row):
        self._row = tuple(row)

    def remove(self):
        self._row = None
        self.removed = True

    def setTimeoutDuration(self, d):
        self.timeout_set = d


def _run_fold(fold, user, rows, state):
    cols = ["event_id", "ts_us", "user_id", "value"]
    pdfs = [pd.DataFrame(rows, columns=cols)] if rows else []
    out = list(fold((user,), iter(pdfs), state))
    return ([tuple(r) for r in out[0].itertuples(index=False)]
            if out else [])


def test_fold_timeout_emits_open_session_and_evicts():
    """state_timeout firing closes the open session, emits it, and
    REMOVES the state row (review finding: the first cut re-armed the
    timeout forever and never emitted)."""
    from obadiah_spark.streaming.sessionize_stream import _fold_factory
    fold = _fold_factory(_GAP_US, "1 hour")
    st = _FakeState(row=(3, 100, 200, 5, 777), timed_out=True)
    emitted = _run_fold(fold, 9, [], st)
    assert emitted == [(9, 3, 100, 200, 5, 777)]
    assert st.removed and not st.exists


def test_fold_sentinel_applies_in_event_time_position():
    """Events sorting after a sentinel in the SAME micro-batch open a
    fresh session instead of being folded into the flushed one."""
    from obadiah_spark.streaming.sessionize_stream import _fold_factory
    fold = _fold_factory(_GAP_US, None)
    st = _FakeState()
    rows = [(1, 1000, 7, 1.0), (2, 2000, 7, 1.0),
            (-1, 2500, 7, 0.0),               # sentinel mid-batch
            (3, 3000, 7, 1.0)]
    emitted = _run_fold(fold, 7, rows, st)
    assert emitted == [(7, 1, 1000, 2000, 2, 200)]
    # the post-sentinel event is session 2, OPEN in state
    assert st.get == (2, 3000, 3000, 1, 100)


def test_fold_null_values_match_batch_sum_semantics():
    """NULL values: skipped by the cents sum (event still counted);
    an all-NULL session carries NULL cents — exactly F.sum's NULL
    handling (review finding: the first cut crashed on NaN)."""
    import math

    from obadiah_spark.streaming.sessionize_stream import _fold_factory
    fold = _fold_factory(_GAP_US, None)
    st = _FakeState()
    nan = float("nan")
    rows = [(1, 1000, 4, 2.0), (2, 2000, 4, nan), (3, 3000, 4, 1.0),
            (-1, 4000, 4, 0.0)]
    assert _run_fold(fold, 4, rows, st) == [(4, 1, 1000, 3000, 3, 300)]
    st2 = _FakeState()
    rows2 = [(1, 1000, 5, nan), (2, 2000, 5, nan), (-1, 3000, 5, 0.0)]
    out = _run_fold(fold, 5, rows2, st2)
    assert out == [(5, 1, 1000, 2000, 2, None)] or (
        len(out) == 1 and out[0][:5] == (5, 1, 1000, 2000, 2)
        and (out[0][5] is None or (isinstance(out[0][5], float)
                                   and math.isnan(out[0][5]))))


def test_stream_null_values_equal_batch(spark, tmp_path):
    """End-to-end: a corpus with NULL values replays to the batch
    sessions (sum skips nulls; all-null sessions carry NULL cents)."""
    rows = [(1, 1_000, 1, 2.0), (2, 61_000_000, 1, None),
            (3, 122_000_000, 1, 1.0),
            # user 2: every value null
            (4, 1_000, 2, None), (5, 61_000_000, 2, None)]
    batch = _batch_sessions(spark, rows)
    streamed = _replay(spark, tmp_path, rows, chunks=2,
                       name="sess_stream_nulls")
    assert streamed == batch
    u2 = [t for t in batch if t[0] == 2]
    assert len(u2) == 1 and u2[0][5] is None   # NULL cents survives
