"""Event-time TTL (VERDICT r11 #5): with ``timeout_mode="event"`` the
state timeouts are armed from EVENT time under a watermark, so eviction
is a function of the data — a replay must produce byte-identical output
(including timeout-evicted sessions/buckets) on every run, which
processing-time timeouts cannot promise.  Each test replays the same
file stream TWICE through fresh checkpoints and compares full outputs,
and asserts the timeout actually fired (the eviction is visible in the
output or in the recall gap)."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from obadiah_spark.streaming.sessionize_stream import (
    EVENTS_IN_SCHEMA, _duration_ms, sessionize_stream)

T0 = 1_700_000_000_000_000  # anchor event time, us


def test_duration_ms_parses_the_interval_subset():
    assert _duration_ms("30 seconds") == 30_000
    assert _duration_ms("1 hour") == 3_600_000
    assert _duration_ms("5 minutes") == 300_000
    assert _duration_ms("250 milliseconds") == 250


def _write_chunks(src, parts, columns):
    os.makedirs(src, exist_ok=True)
    now = time.time()
    for i, part in enumerate(parts):
        f = os.path.join(src, f"{i:03d}.parquet")
        df = pd.DataFrame(part, columns=columns)
        for c in df.columns:
            # Spark reads TIMESTAMP(MICROS), not pandas' default nanos
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        df.to_parquet(f)
        os.utime(f, (now + 10 * i, now + 10 * i))


def _run_sessionize(spark, src, ckpt, name):
    stream = (spark.readStream.schema(EVENTS_IN_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream, gap_minutes=30,
                           state_timeout="1 hour")  # event mode default
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return {tuple(r) for r in spark.table(name).collect()}


def test_sessionize_event_ttl_replay_deterministic(spark, tmp_path):
    """User 7 goes idle after batch 0; user 8's later events advance the
    watermark past 7's (end + TTL), so 7's OPEN session is emitted by
    the EVENT-time timeout — no flush sentinel anywhere.  Two replays
    of the same files must agree exactly, including the evicted row."""
    hour = 3_600_000_000
    parts = [
        # batch 0: user 7's only session (2 events, 1 min apart)
        [(1, T0, 7, 1.0), (2, T0 + 60_000_000, 7, 2.0)],
        # batch 1: user 8 far in the future -> watermark jumps past
        # 7's end + 1h TTL (+1h watermark delay) at the NEXT batch
        [(3, T0 + 10 * hour, 8, 1.0)],
        # batch 2: no data for 7; the timeout fires here
        [(4, T0 + 11 * hour, 8, 1.0)],
        # batch 3: one more advance so batch-2 arming can also fire if
        # anything re-armed late
        [(5, T0 + 12 * hour, 8, 1.0)],
    ]
    src = str(tmp_path / "ev")
    _write_chunks(src, parts, ["event_id", "ts_us", "user_id", "value"])
    run1 = _run_sessionize(spark, src, str(tmp_path / "c1"), "ttl_run1")
    run2 = _run_sessionize(spark, src, str(tmp_path / "c2"), "ttl_run2")
    assert run1 == run2
    # the evicted session is IN the output: user 7 emitted without any
    # sentinel, with its true event-time bounds
    assert (7, 1, T0, T0 + 60_000_000, 2, 300) in run1


def test_sessionize_sentinels_off_rejects_negative_ids(spark, tmp_path):
    """ADVICE r11: with sentinels disabled, a negative event_id is
    corrupt input and must fail the query loudly, not silently close a
    session."""
    parts = [[(1, T0, 3, 1.0), (-5, T0 + 1, 3, 0.0)]]
    src = str(tmp_path / "ev_bad")
    _write_chunks(src, parts, ["event_id", "ts_us", "user_id", "value"])
    stream = (spark.readStream.schema(EVENTS_IN_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream, gap_minutes=30, sentinels=False)
         .writeStream.format("memory").queryName("ttl_badid")
         .option("checkpointLocation", str(tmp_path / "cbad"))
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(Exception, match="negative event_id"):
        q.awaitTermination()


def _run_minhash_ttl(spark, src, ckpt, name, ttl="1 hour"):
    from obadiah_spark.streaming.dedup_stream import minhash_lsh_stream

    stream = (spark.readStream
              .schema("doc_id long, text string, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (minhash_lsh_stream(stream, max_bucket_size=10_000,
                            state_timeout=ttl, event_time_col="ts")
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return {(r.doc_a, r.doc_b) for r in spark.table(name).collect()}


def test_minhash_event_ttl_replay_deterministic(spark, tmp_path):
    """Doc 0 enrolls in batch 0; a long event-time gap (driven by an
    unrelated doc) expires its buckets; doc 1 — a near-identical copy of
    doc 0 — arrives after the gap and must NOT pair with it (the state
    was evicted), while doc 2 (same batch as 1) must.  Deterministic
    across two replays."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    t = pd.Timestamp("2024-01-01 00:00:00")
    hour = pd.Timedelta(hours=1)
    parts = [
        [(0, base, t)],
        # unrelated doc far ahead advances the watermark past 0's TTL
        [(50, "one two three four five six", t + 10 * hour)],
        [(51, "seven eight nine ten eleven twelve", t + 20 * hour)],
        # near-dups of doc 0 arrive AFTER its buckets expired
        [(1, base, t + 30 * hour), (2, base, t + 30 * hour)],
    ]
    src = str(tmp_path / "docs")
    _write_chunks(src, parts, ["doc_id", "text", "ts"])
    run1 = _run_minhash_ttl(spark, src, str(tmp_path / "k1"), "mh_ttl1")
    run2 = _run_minhash_ttl(spark, src, str(tmp_path / "k2"), "mh_ttl2")
    assert run1 == run2
    # recall gap across the TTL: (0, 1) lost, (1, 2) found — the
    # documented trade, now deterministic
    assert (0, 1) not in run1
    assert (1, 2) in run1


def test_minhash_event_ttl_requires_time_col():
    from obadiah_spark.streaming.dedup_stream import minhash_lsh_stream

    with pytest.raises(ValueError, match="event_time_col"):
        minhash_lsh_stream(None, state_timeout="1 hour")


def test_embedding_event_ttl_replay_deterministic(spark, tmp_path):
    """Same shape for the embedding bucket state: a planted near-dup
    pair split across an expired gap is lost; a same-batch pair is
    found; two replays agree exactly (pair set AND cosines)."""
    from obadiah_spark.streaming.dedup_stream import embedding_dedup_stream

    import numpy as np

    rng = np.random.default_rng(7)
    v = rng.normal(size=64).astype(np.float32)
    near = (v + rng.normal(scale=0.05, size=64).astype(np.float32)
            ).astype(np.float32)
    far = rng.normal(size=64).astype(np.float32)
    t = pd.Timestamp("2024-01-01 00:00:00")
    hour = pd.Timedelta(hours=1)
    parts = [
        [(0, [float(x) for x in v], t)],
        [(50, [float(x) for x in far], t + 10 * hour)],
        [(51, [float(x) for x in -far], t + 20 * hour)],
        [(1, [float(x) for x in v], t + 30 * hour),
         (2, [float(x) for x in near], t + 30 * hour)],
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "emb")
    os.makedirs(src)
    now = time.time()
    for i, part in enumerate(parts):
        tbl = pa.table({
            "vec_id": pa.array([r[0] for r in part], pa.int64()),
            # float32 elements: the embeddings table's physical type
            "embedding": pa.array([r[1] for r in part],
                                  pa.list_(pa.float32())),
            "ts": pa.array([r[2].to_pydatetime() for r in part],
                           pa.timestamp("us")),
        })
        f = os.path.join(src, f"{i:03d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (now + 10 * i, now + 10 * i))

    def run(ckpt, name):
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<float>, "
                          "ts timestamp")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (embedding_dedup_stream(stream, min_cosine=0.45,
                                    max_bucket_size=10_000,
                                    state_timeout="1 hour",
                                    event_time_col="ts")
             .writeStream.format("memory").queryName(name)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return {(r.vec_a, r.vec_b, r.cosine)
                for r in spark.table(name).collect()}

    run1 = run(str(tmp_path / "e1"), "emb_ttl1")
    run2 = run(str(tmp_path / "e2"), "emb_ttl2")
    assert run1 == run2
    pairs = {(a, b) for a, b, _ in run1}
    assert (0, 1) not in pairs and (0, 2) not in pairs
    assert (1, 2) in pairs
