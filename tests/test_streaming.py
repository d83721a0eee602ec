"""Streaming ingestion differential: any batch split of the event stream
must reproduce the one-shot batch level3 synthesis bit-for-bit (the
reference's trigger-based chaining is order-insensitive the same way)."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest

from obadiah_spark.streaming.ingest import Level3Ingestor
from tools.verify_local import canonicalize, compare

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
                 "value double, props string")
_L3_EVENTS_SCHEMA = ("pair_id int, exchange_id int, era timestamp, "
                     "microtimestamp timestamp, order_id long, event_no int, "
                     "side string, price double, amount double, "
                     "chain_state string")


def _batch_l3(level3):
    return level3.toPandas()


def _split_frame(df, n):
    """np.array_split for DataFrames without tripping the
    DataFrame.swapaxes deprecation (np.array_split swaps axes
    internally): split positions, slice with iloc."""
    return [df.iloc[idx] for idx in np.array_split(np.arange(len(df)), n)]


def test_ingestor_state_machine_vs_batch(spark, level3):
    """Unit: 4 ts-ordered pandas chunks through the state machine."""
    events = spark.table("events").toPandas().sort_values("ts").reset_index(drop=True)
    ing = Level3Ingestor()
    for chunk in _split_frame(events, 4):
        ing.process_batch(chunk)
    got = ing.finalize()
    want = _batch_l3(level3)
    assert not compare("stream-vs-batch", got, want)


def test_ingestor_single_batch_equals_many(spark):
    events = spark.table("events").toPandas().sort_values("ts").reset_index(drop=True)
    one = Level3Ingestor()
    one.process_batch(events)
    many = Level3Ingestor()
    for chunk in _split_frame(events, 7):
        many.process_batch(chunk)
    a, b = one.finalize(), many.finalize()
    assert canonicalize(a).equals(canonicalize(b))


def _write_event_chunks(spark, events, d, n_chunks=4):
    src = os.path.join(d, "events")
    os.makedirs(src)
    for i, chunk in enumerate(_split_frame(events, n_chunks)):
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"chunk_{i:03d}"))
    flat = os.path.join(d, "flat")
    os.makedirs(flat)
    n = 0
    for root, _, files in sorted(os.walk(src)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                os.rename(os.path.join(root, f), os.path.join(flat, f"{n:03d}.parquet"))
                n += 1
    return flat


def _run_in_two_halves(flat, files, src, start, sink):
    """Move the first half of ``files`` from ``flat`` into ``src`` and run
    the query ``start(src)`` to completion, then the second half and run
    it again, resuming from its checkpoint. Returns the sink entries the
    first run wrote."""
    import shutil
    import time

    src.mkdir()
    now = time.time()
    first = None
    for half in (files[:len(files) // 2], files[len(files) // 2:]):
        for f in half:
            shutil.move(os.path.join(flat, f), src / f)
            # the file source replays in mtime order; same-ms files tie
            os.utime(src / f, (now + 10 * files.index(f),) * 2)
        start(str(src)).awaitTermination()
        if first is None:
            first = {p.name for p in sink.iterdir()}
    return first


def test_chain_stream_executor_side(spark, level3):
    """The production streaming path: applyInPandasWithState keyed by
    market-era (pair, exchange, era) — state in the Spark state store,
    update-mode upsert emissions, latest-wins materialization, era-close
    finalization.
    Must reproduce the one-shot batch synthesis bit-for-bit."""
    from obadiah_spark.streaming.chain import finalize_open_chains, run_chain_stream

    events = spark.table("events").toPandas().sort_values("ts").reset_index(drop=True)
    with tempfile.TemporaryDirectory() as d:
        flat = _write_event_chunks(spark, events, d)
        latest = run_chain_stream(spark, flat, EVENTS_SCHEMA,
                                  os.path.join(d, "ckpt"))
    got = finalize_open_chains(latest)
    want = _batch_l3(level3)
    assert not compare("chain-stream-vs-batch", got, want)


def test_chain_stream_restarts_from_checkpoint(spark, level3, tmp_path):
    """Stop the chain stream after the first two of four event files, add
    the other two and restart from the same checkpoint: the open chains
    must come back from the state store, so both runs' versions, latest-wins
    and era-closed, equal the one-shot batch level3. (A foreachBatch parquet
    sink keyed by batch id: the memory sink refuses checkpoint recovery.)"""
    from obadiah_spark.streaming.chain import (chain_stream,
                                               finalize_open_chains,
                                               keyed_stream, latest_wins)
    from obadiah_spark.streaming.reorder import with_reorder_watermark

    events = spark.table("events").toPandas().sort_values("ts").reset_index(drop=True)
    flat = _write_event_chunks(spark, events, str(tmp_path))
    files = sorted(os.listdir(flat))
    assert len(files) == 4
    sink = tmp_path / "sink"

    def start(src):
        stream = with_reorder_watermark(
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(src), "ts",
            "1 second")
        return (chain_stream(keyed_stream(stream)).writeStream
                .foreachBatch(lambda df, batch_id: df.write.parquet(
                    str(sink / f"batch_id={batch_id}")))
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .outputMode("update").trigger(availableNow=True).start())

    first = _run_in_two_halves(flat, files, tmp_path / "src", start, sink)
    assert first and {p.name for p in sink.iterdir()} > first
    ups = spark.read.parquet(str(sink)).toPandas().drop(columns=["batch_id"])
    got = finalize_open_chains(latest_wins(ups))
    assert not compare("chain-stream-restart-vs-batch", got, _batch_l3(level3))


def test_ingestor_drops_cross_batch_straggler():
    """An event-time-earlier message of an open chain that arrives in a
    later batch is dropped, as the stream drops it — never chained
    backward."""
    import pandas as pd

    class Keyed(Level3Ingestor):
        _keyed = staticmethod(lambda batch: batch)

    era = pd.Timestamp("2024-01-01")

    def msgs(*minutes):
        return pd.DataFrame([{
            "event_id": 100 + m, "order_id": 5, "pair_id": 1, "era": era,
            "side": "s", "price": 100.0 + m, "amount": 1.0,
            "is_delete": False,
            "microtimestamp": era + pd.Timedelta(minutes=m),
            "local_timestamp": era + pd.Timedelta(minutes=m, seconds=1),
        } for m in minutes])

    ing = Keyed()
    ing.process_batch(msgs(0, 5))
    ing.process_batch(msgs(2))
    got = ing.finalize().sort_values("microtimestamp").reset_index(drop=True)
    t = [era + pd.Timedelta(minutes=m) for m in (0, 5)]
    assert got["microtimestamp"].tolist() == t
    assert got["event_no"].tolist() == [1, 2]
    assert got.loc[0, "next_microtimestamp"] == t[1]
    assert got["chain_state"].tolist() == ["chained", "alive"]


def test_side_is_data_not_formula(spark):
    """Round-4 decoupling: feed a side assignment that BREAKS the synth
    modular formula (all sides flipped); the driver-side mirror must carry
    the data through unchanged."""
    from obadiah_spark.streaming.ingest import Level3Ingestor, keyed_events

    flip = {"b": "s", "s": "b"}

    class FlippedIngestor(Level3Ingestor):
        @staticmethod
        def _keyed(ev):
            out = keyed_events(ev)
            out["side"] = out["side"].map(flip)
            return out

    events = spark.table("events").toPandas().sort_values("ts").reset_index(drop=True)
    ing = FlippedIngestor()
    ing.process_batch(events)
    got = ing.finalize()
    formula = (got["order_id"] % 4 < 2).map({True: "b", False: "s"})
    assert (got["side"] == formula.map(flip)).all()
    assert not (got["side"] == formula).any()


def test_chain_events_carries_side_and_payload_in_state():
    """Executor-side: the stateful processor must emit the side/price given
    as DATA — including the tail re-emission restored from the state store,
    which previously had no side and was recomputed from order_id % 4."""
    import pandas as pd

    from obadiah_spark.streaming.chain import chain_events

    class FakeState:
        def __init__(self):
            self._t = None

        @property
        def exists(self):
            return self._t is not None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self._t = t

    era = pd.Timestamp("2024-01-01")
    key = (1, 1, era)  # order_id 5: the synth formula would say 'b'

    def batch(eid, ts_min):
        return pd.DataFrame([{
            "event_id": eid, "order_id": 5, "pair_id": 1, "exchange_id": 1,
            "era": era, "side": "s",              # contradicts the formula
            "price": 123.0, "amount": 1.5, "is_delete": False,
            "microtimestamp": era + pd.Timedelta(minutes=ts_min),
            "local_timestamp": era + pd.Timedelta(minutes=ts_min, seconds=1),
        }])

    st = FakeState()
    out1 = pd.concat(list(chain_events(key, iter([batch(5, 0)]), st)))
    out2 = pd.concat(list(chain_events(key, iter([batch(245, 1)]), st)))
    # drop all-NA object columns (unset fill/link fields) before concat:
    # pandas deprecated letting them ride through dtype resolution
    rows = pd.concat([f.dropna(axis=1, how="all") for f in (out1, out2)])
    assert len(rows) == 3  # new, chained re-emit of the tail, new
    assert (rows["side"] == "s").all()
    assert (rows["price"] == 123.0).all()


def test_streaming_spread_equals_batch(spark, level3):
    """§2.9 stateful op: the spread fold fed by time-ordered micro-batches
    (episodes splitting across batch boundaries included) must equal the
    one-shot batch fold bit-for-bit."""
    from obadiah_spark.fold import _EVENT_COLS, spread_fold
    from obadiah_spark.streaming.spread import StreamingSpread

    events = (level3.select(*_EVENT_COLS).toPandas()
              .sort_values(["microtimestamp", "order_id", "event_no"])
              .reset_index(drop=True))
    acc = StreamingSpread()
    for chunk in _split_frame(events, 5):
        acc.process_batch(chunk)
    got = acc.flush()
    want = spread_fold(level3).toPandas()
    assert len(got) > 0
    assert not compare("streaming-spread-vs-batch", got, want)


def test_streaming_spread_end_to_end(spark, level3):
    """Real Structured Streaming run of the level1 fold: file source, one
    file per micro-batch, availableNow trigger."""
    from obadiah_spark.fold import _EVENT_COLS, spread_fold
    from obadiah_spark.streaming.spread import run_streaming_spread

    schema = ("pair_id int, exchange_id int, era timestamp, "
              "microtimestamp timestamp, order_id long, event_no int, "
              "side string, price double, amount double, chain_state string")
    events = (level3.select(*_EVENT_COLS).toPandas()
              .sort_values(["microtimestamp", "order_id", "event_no"])
              .reset_index(drop=True))
    with tempfile.TemporaryDirectory() as d:
        flat = _write_event_chunks(spark, events, d)
        got = run_streaming_spread(spark, flat, schema, os.path.join(d, "ckpt"))
    want = spread_fold(level3).toPandas()
    assert not compare("streaming-spread-e2e", got, want)


def test_streaming_depth_change_equals_batch(spark, level3):
    """VERDICT r4 #5 — streaming level2: the depth fold fed by time-ordered
    micro-batches (episodes splitting across batch boundaries included)
    must equal the one-shot batch depth_change_fold bit-for-bit."""
    from obadiah_spark.fold import _EVENT_COLS, depth_change_fold
    from obadiah_spark.streaming.spread import StreamingDepthChange

    events = (level3.select(*_EVENT_COLS).toPandas()
              .sort_values(["microtimestamp", "order_id", "event_no"])
              .reset_index(drop=True))
    acc = StreamingDepthChange()
    for chunk in _split_frame(events, 5):
        acc.process_batch(chunk)
    got = acc.flush()
    want = depth_change_fold(level3).toPandas()
    assert len(got) > 0
    assert not compare("streaming-depth-vs-batch", got, want)


def test_streaming_depth_change_end_to_end(spark, level3):
    """Real Structured Streaming run of the level2 fold: file source, one
    file per micro-batch, availableNow trigger."""
    from obadiah_spark.fold import _EVENT_COLS, depth_change_fold
    from obadiah_spark.streaming.spread import run_streaming_depth_change

    schema = ("pair_id int, exchange_id int, era timestamp, "
              "microtimestamp timestamp, order_id long, event_no int, "
              "side string, price double, amount double, chain_state string")
    events = (level3.select(*_EVENT_COLS).toPandas()
              .sort_values(["microtimestamp", "order_id", "event_no"])
              .reset_index(drop=True))
    with tempfile.TemporaryDirectory() as d:
        flat = _write_event_chunks(spark, events, d)
        got = run_streaming_depth_change(spark, flat, schema,
                                         os.path.join(d, "ckpt"))
    want = depth_change_fold(level3).toPandas()
    assert not compare("streaming-depth-e2e", got, want)


@pytest.mark.parametrize("folder_name, batch_name", [
    ("_SpreadFolder", "spread_fold"), ("_DepthFolder", "depth_change_fold")])
def test_fold_kernel_holds_pending_episode(spark, folder_name, batch_name):
    """Unit: a trigger whose rows all belong to the pending episode emits
    nothing and keeps them pending; the next trigger closes that episode
    once, and all triggers plus the stream-end close equal the batch fold."""
    import pandas as pd

    import obadiah_spark.fold as fold
    from obadiah_spark.streaming.ingest import _HeldState
    from obadiah_spark.streaming.spread import _fold_events

    folder = getattr(fold, folder_name)
    era = pd.Timestamp("2024-01-01")
    key = (1, 1, era)

    def rows(minute, *orders):
        return pd.DataFrame([{
            "pair_id": 1, "exchange_id": 1, "era": era,
            "microtimestamp": era + pd.Timedelta(minutes=minute),
            "order_id": oid, "event_no": eno, "side": side, "price": price,
            "amount": amount, "chain_state": state,
        } for oid, eno, side, price, amount, state in orders])

    triggers = [
        pd.concat([rows(0, (1, 1, "b", 100.0, 1.0, "chained"),
                        (2, 1, "s", 101.0, 1.0, "alive")),
                   rows(1, (3, 1, "b", 100.5, 2.0, "alive"))]),
        rows(1, (4, 1, "s", 100.75, 0.5, "alive")),
        rows(2, (3, 2, "b", 100.5, 2.0, "deleted")),
    ]
    minute1 = era + pd.Timedelta(minutes=1)
    state = _HeldState()
    out = []
    for t in triggers:
        out.append(list(_fold_events(folder, key, [t], state)))
        if len(out) == 2:
            us, oids = state.get[:2]
            assert [o for u, o in zip(us, oids)
                    if u == minute1.value // 1000] == [3, 4]
    assert out[0] and not out[1] and out[2]
    assert (pd.concat(out[2])["microtimestamp"] == minute1).all()
    got = pd.concat([f for fs in out for f in fs]
                    + list(_fold_events(folder, key, [], state, close=True)))
    want = getattr(fold, batch_name)(
        spark.createDataFrame(pd.concat(triggers))).toPandas()
    assert not compare("fold-kernel-vs-batch", got, want)


@pytest.mark.parametrize("folder_name, batch_name", [
    ("_SpreadFolder", "spread_fold"), ("_DepthFolder", "depth_change_fold")])
def test_fold_stream_restarts_from_checkpoint(spark, level3, tmp_path,
                                              folder_name, batch_name):
    """Stop the level1/level2 fold stream after the first two of four
    time-ordered files, add the other two and resume from the same
    checkpoint: the books and the trailing episodes must come back from the
    state store, so the sink's rows plus the trailing episodes closed from
    the checkpoint equal the batch fold."""
    import pandas as pd

    import obadiah_spark.fold as fold
    from obadiah_spark.streaming.spread import (finalize_open_episodes,
                                                fold_stream)

    folder = getattr(fold, folder_name)
    # the fixture's episodes hold one event each; coarsened to 3 hours
    # they hold several, so file boundaries can fall inside them
    events = level3.select(*fold._EVENT_COLS).toPandas()
    events["microtimestamp"] = events["microtimestamp"].dt.floor("3h")
    events = events.sort_values(fold.EVENT_ORDER).reset_index(drop=True)
    flat = _write_event_chunks(spark, events, str(tmp_path))
    files = sorted(os.listdir(flat))
    assert len(files) == 4
    episodes = [set(pd.read_parquet(os.path.join(flat, f))[
        ["pair_id", "exchange_id", "era", "microtimestamp"]]
        .itertuples(index=False)) for f in files]
    assert any(a & b for a, b in zip(episodes, episodes[1:])), \
        "no file boundary splits an episode"
    ckpt, sink = str(tmp_path / "ckpt"), tmp_path / "sink"

    def start(src):
        stream = (spark.readStream.schema(_L3_EVENTS_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        return (fold_stream(stream, folder).writeStream
                .foreachBatch(lambda df, batch_id: df.write.parquet(
                    str(sink / f"batch_id={batch_id}")))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    first = _run_in_two_halves(flat, files, tmp_path / "src", start, sink)
    assert first and {p.name for p in sink.iterdir()} > first
    got = (spark.read.parquet(str(sink)).drop("batch_id")
           .unionByName(finalize_open_episodes(spark, ckpt, folder))
           .toPandas())
    want = getattr(fold, batch_name)(spark.createDataFrame(events)).toPandas()
    assert not compare("fold-stream-restart-vs-batch", got, want)


def _finalize_by_row(l3):
    """The per-row reference for finalize_open_chains: predecessor lookup
    by (order, era, life, event_no − 1), one tail at a time."""
    l3 = l3.copy()
    pred = {(r.order_id, r.era, r.life_no, r.event_no): i
            for i, r in zip(l3.index, l3.itertuples(index=False))}
    for i in l3.index[l3["chain_state"].isna()]:
        r = l3.loc[i]
        if r["order_id"] % 3 == 0:
            j = pred.get((r["order_id"], r["era"], r["life_no"],
                          r["event_no"] - 1))
            if j is not None:
                for c in ("price", "amount", "price_microtimestamp",
                          "price_event_no"):
                    l3.loc[i, c] = l3.loc[j, c]
            l3.loc[i, "fill"] = None
            l3.loc[i, "chain_state"] = "deleted"
        else:
            l3.loc[i, "chain_state"] = "alive"
    return l3


def test_finalize_open_chains_equals_per_row_reference():
    """Open tails in both families — order_id % 3 == 0 with and without a
    predecessor row, and the rest — close exactly as the row-at-a-time
    lookup closes them."""
    import numpy as np
    import pandas as pd

    from obadiah_spark.streaming.chain import finalize_open_chains

    era = pd.Timestamp("2024-01-01")

    def t(m):
        return era + pd.Timedelta(minutes=m)

    rows = [
        # (order_id, life_no, event_no, minute, price, amount, fill, state)
        (3, 0, 1, 0, 100.0, 2.0, None, "chained"),
        (3, 0, 2, 1, 101.0, 1.0, 1.0, None),      # closes, predecessor
        (6, 1, 1, 2, 99.0, 4.0, None, None),      # closes, no predecessor
        (9, 0, 3, 3, 98.0, 3.0, 0.5, None),       # closes, no event 2
        (9, 0, 1, 1, 97.0, 5.0, None, "chained"),
        (4, 0, 1, 0, 102.0, 2.0, None, "chained"),
        (4, 0, 2, 2, 102.0, 1.5, 0.5, None),      # rests alive
        (5, 0, 1, 4, 103.0, 1.0, None, "deleted"),
        (3, 1, 1, 5, 104.0, 6.0, None, None),     # other life: no carry
    ]
    l3 = pd.DataFrame({
        "order_id": [r[0] for r in rows],
        "life_no": np.array([r[1] for r in rows], "i4"),
        "event_no": np.array([r[2] for r in rows], "i4"),
        "microtimestamp": [t(r[3]) for r in rows],
        "era": era,
        "price": [r[4] for r in rows],
        "amount": [r[5] for r in rows],
        "fill": np.array([r[6] for r in rows], "f8"),
        "price_microtimestamp": [t(r[3]) for r in rows],
        "price_event_no": np.array([r[2] for r in rows], "i4"),
        "chain_state": [r[7] for r in rows],
    })
    got = finalize_open_chains(l3)
    pd.testing.assert_frame_equal(got, _finalize_by_row(l3))
    assert got["chain_state"].tolist() == [
        "chained", "deleted", "deleted", "deleted", "chained", "chained",
        "alive", "deleted", "deleted"]
    assert got.loc[1, "price"] == 100.0 and np.isnan(got.loc[1, "fill"])
