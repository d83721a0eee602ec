"""Executor-side level3 chaining: keyed state in the Spark state store.

This is the production shape of the I1+I8 ingest state machine
(``bitfinex.capture_transient_raw_book_events`` db/bitfinex_schema.sql:279-468
+ ``level3_incorporate_new_event`` db/obanalytics_schema.sql:1760-1834): the
per-chain tail state lives in Structured Streaming's keyed state store,
partitioned by (pair_id, exchange_id, era, order_id), checkpointed with the
query — NEVER on the driver. Each micro-batch advances every touched chain
and emits UPDATE-mode row versions:

- a new event emits its level3 row with ``chain_state`` NULL (tentative —
  the reference's freshly-inserted row before any trigger revisits it),
- the predecessor is re-emitted with ``next_microtimestamp``/
  ``next_event_no`` set and ``chain_state='chained'`` (the reference's
  in-place UPDATE becomes an upsert emission),
- a same-episode amendment re-emits the tail row derived from the replayed
  message (per-episode dedup keeping the latest message, I1 :374-384).

Downstream materialization is latest-wins per (pair, era, order,
microtimestamp) using the monotone ``rev`` — exactly how a DB mirror of the
reference's table would consume logical-replication updates.

API surface: Spark 3.4's ``applyInPandasWithState``. (The Spark 4
``transformWithStateInPandas`` surface needs ``google.protobuf`` in the
python worker, absent in this container; the state model here is identical —
keyed, incremental, executor-side — so swapping the binding is mechanical.)

State size is O(1) per open chain (the fold state before/after the tail plus
the tail row); at 100 TB scale state is sharded by the grouping key across
executors and RocksDB-backed; era close (see :func:`finalize_open_chains`)
retires a whole era's keys.

Ordering contract: rows WITHIN a micro-batch are sorted before folding;
ACROSS batches the processor relies on the transport delivering
capture-ordered batches (file replay and the batch_seq-ordered capture
bronze both do). An event-time-earlier row that still arrives in a later
batch — possible only on a disordered external feed, inside the watermark
slack — is dropped with the same too-late contract the reference's
reorderer applies beyond its slack, never chained backward. Full in-slack
cross-batch reordering would hold such rows in a watermark-gated pending
buffer inside the state row and flush them as the watermark passes; the
hook is noted at the drop site.
"""

from __future__ import annotations

import functools
from collections import namedtuple
from collections.abc import Iterator

import numpy as np
import pandas as pd

from obadiah_spark.fold import schema_dtypes, typed_frame
from obadiah_spark.streaming.ingest import _ChainState, advance_chain

# fold state before the tail (7) + after the tail (7) + tail row (12) + rev
# (side is DATA carried in state, never re-derived from order_id — a real
# feed's side assignment has no formula)
STATE_SCHEMA = (
    "b_seq int, b_life int, b_count int, b_prev_price double, "
    "b_prev_amount double, b_pg_us long, b_pg_eno int, "
    "a_seq int, a_life int, a_count int, a_prev_price double, "
    "a_prev_amount double, a_pg_us long, a_pg_eno int, "
    "t_us long, t_eno int, t_side string, t_price double, t_amount double, "
    "t_fill double, t_pms_us long, t_pe_no int, t_state string, t_life int, "
    "t_event_id long, t_lts_us long, rev long"
)

OUTPUT_SCHEMA = (
    "microtimestamp timestamp, order_id long, event_no int, side string, "
    "price double, amount double, fill double, next_microtimestamp timestamp, "
    "next_event_no int, pair_id int, exchange_id int, "
    "local_timestamp timestamp, price_microtimestamp timestamp, "
    "price_event_no int, chain_state string, era timestamp, life_no int, "
    "event_id long, rev long"
)

_OUT_DTYPES = schema_dtypes(OUTPUT_SCHEMA)
_OUT_COLS = list(_OUT_DTYPES)
_ROW_COLS = _OUT_COLS[:-1]  # the level3 row fields; ``rev`` is appended


def _ts_us(ts) -> int | None:
    if ts is None or pd.isna(ts):
        return None
    return pd.Timestamp(ts).value // 1000


def _us_ts(us) -> pd.Timestamp | None:
    if us is None or pd.isna(us):
        return None
    return pd.Timestamp(int(us) * 1000)


def _pack_chain(s: _ChainState) -> tuple:
    return (s.seq, s.life_no, s.count, s.prev_price, s.prev_amount,
            _ts_us(s.pg_ts), s.pg_eno)


def _unpack_chain(t: tuple) -> _ChainState:
    s = _ChainState()
    (s.seq, s.life_no, s.count, s.prev_price, s.prev_amount, pg_us,
     s.pg_eno) = t
    s.pg_ts = _us_ts(pg_us)
    if s.pg_eno is not None:
        s.pg_eno = int(s.pg_eno)
    return s


@functools.cache
def _row_type(cols: tuple[str, ...]) -> type:
    return namedtuple("Row", cols)


def _latest_rows(pdf: pd.DataFrame) -> Iterator[tuple]:
    """The batch's messages as named row tuples in (microtimestamp,
    local_timestamp, event_id) order, keeping the LATEST message per
    microtimestamp (per-episode dedup, I1 :374-384)."""
    ts = pdf["microtimestamp"].to_numpy()
    order = np.lexsort((pdf["event_id"].to_numpy(),
                        pdf["local_timestamp"].to_numpy(), ts))
    t = ts[order].view("i8")
    idx = order[np.append(t[1:] != t[:-1], True)]
    cols = tuple(pdf.columns)
    return map(_row_type(cols)._make,
               zip(*[pdf[c].iloc[idx].tolist() for c in cols]))


def chain_events(key: tuple, pdfs: Iterator[pd.DataFrame], state
                 ) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState body for one (pair, exchange, era, order) chain."""
    pair_id, exchange_id, era, order_id = key
    frames = list(pdfs)
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames,
                                                       ignore_index=True)

    if state.exists:
        st = state.get
        before, after = _unpack_chain(st[0:7]), _unpack_chain(st[7:14])
        (t_us, t_eno, t_side, t_price, t_amount, t_fill, t_pms_us, t_pe_no,
         t_state, t_life, t_event_id, t_lts_us, rev) = st[14:27]
        tail = {
            "microtimestamp": _us_ts(t_us), "order_id": int(order_id),
            "event_no": int(t_eno), "side": t_side, "price": t_price,
            "amount": t_amount, "fill": t_fill,
            "next_microtimestamp": None, "next_event_no": None,
            "pair_id": int(pair_id), "exchange_id": int(exchange_id),
            "local_timestamp": _us_ts(t_lts_us),
            "price_microtimestamp": _us_ts(t_pms_us),
            "price_event_no": int(t_pe_no),
            "chain_state": t_state, "era": era, "life_no": int(t_life),
            "event_id": int(t_event_id),
        }
    else:
        before = after = None
        tail = None
        rev = 0

    emitted: list[tuple] = []

    def emit(row: dict) -> None:
        nonlocal rev
        rev += 1
        emitted.append((*map(row.__getitem__, _ROW_COLS), rev))

    for r in _latest_rows(pdf):
        if tail is not None and r.microtimestamp < tail["microtimestamp"]:
            # CROSS-BATCH STRAGGLER: an event-time-earlier row arriving in
            # a later micro-batch. withWatermark only DROPS rows older
            # than the watermark — it does not reorder across batches —
            # so chaining this row forward would write a backward
            # next_microtimestamp and corrupt event_no/fill. Both in-repo
            # transports deliver capture-ordered batches (the file source
            # replays files in order; the capture bronze is batch_seq-
            # ordered), so this fires only on a disordered external feed —
            # where the reference's reorderer applies the SAME contract
            # beyond its slack: log-and-drop rather than corrupt
            # (python/obadiah/capture.py reorderer). In-slack cross-batch
            # reordering would need a watermark-gated pending buffer in
            # state (future work, noted in the module docstring).
            continue
        if tail is not None and tail["microtimestamp"] == r.microtimestamp:
            # cross-batch episode amendment: the later message replaces the
            # tail if newer by (local_timestamp, event_id)
            if (r.local_timestamp, r.event_id) >= (
                    tail["local_timestamp"], tail["event_id"]):
                after = before.copy()
                advance_chain(after, r, tail)
                emit(tail)
            continue
        if tail is None:
            before = _ChainState()
        else:
            if tail["chain_state"] is None:      # not a delete → link forward
                tail["next_microtimestamp"] = r.microtimestamp
                tail["next_event_no"] = tail["event_no"] + 1
                tail["chain_state"] = "chained"
                emit(tail)
            before = after
        after = before.copy()
        tail = advance_chain(after, r)
        emit(tail)

    state.update(
        _pack_chain(before) + _pack_chain(after) + (
            _ts_us(tail["microtimestamp"]), tail["event_no"], tail["side"],
            tail["price"], tail["amount"], tail["fill"],
            _ts_us(tail["price_microtimestamp"]), tail["price_event_no"],
            tail["chain_state"], tail["life_no"], tail["event_id"],
            _ts_us(tail["local_timestamp"]), rev,
        ))

    if not emitted:          # every message was a stale replay — no change
        # yield nothing at all: an empty all-object frame makes pandas'
        # downstream concat warn (and, on a future pandas, change the
        # result dtypes) — the generator protocol allows a bare return
        return
    yield typed_frame(dict(zip(_OUT_COLS, zip(*emitted))), _OUT_DTYPES)


def keyed_stream(events_stream):
    """SYNTH ADAPTER: the gate fabric's raw events carry only (event_id, ts),
    so order_id/pair/side/era are derived here with the same expressions as
    synth.LEVEL3_BODY_SQL's l3_keyed CTE. A real feed replaces ONLY this
    projection — its messages already carry order_id/pair/side (and
    price/amount/delete markers, consumed by advance_chain when present);
    everything downstream of this function treats them as opaque data (side
    rides in the keyed state, see STATE_SCHEMA — pytest feeds an adversarial
    side assignment to prove no formula is re-applied)."""
    from pyspark.sql import functions as F

    oid = 1 + F.col("event_id") % 240
    return events_stream.select(
        F.col("event_id"),
        F.col("ts").alias("local_timestamp"),
        F.date_trunc("minute", "ts").alias("microtimestamp"),
        oid.alias("order_id"),
        (1 + oid % 2).cast("int").alias("pair_id"),
        F.lit(1).cast("int").alias("exchange_id"),
        F.when(oid % 4 < 2, "b").otherwise("s").alias("side"),
        F.date_trunc("week", F.date_trunc("minute", "ts")).alias("era"),
    )


def chain_stream(keyed):
    """Group the keyed stream by chain and run the stateful processor."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return keyed.groupBy(
        "pair_id", "exchange_id", "era", "order_id"
    ).applyInPandasWithState(
        chain_events, OUTPUT_SCHEMA, STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout,
    )


def _run_stream(spark, src_dir: str, schema: str, checkpoint_dir: str,
                adapter, ts_col: str, query_name: str) -> pd.DataFrame:
    """Shared driver for both chain runners: file-per-trigger stream →
    watermark → keyed adapter → stateful chain → latest-wins fold of the
    update-mode upserts (max ``rev`` per logical row)."""
    from obadiah_spark.streaming.reorder import with_reorder_watermark

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    stream = with_reorder_watermark(stream, ts_col, "1 second")
    out = chain_stream(adapter(stream))
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ups = spark.table(query_name).toPandas()
    return (
        ups.sort_values("rev")
        .drop_duplicates(["pair_id", "era", "order_id", "microtimestamp"],
                         keep="last")
        .drop(columns=["rev"])
        .reset_index(drop=True)
    )


def run_chain_stream(spark, events_dir: str, schema: str, checkpoint_dir: str,
                     query_name: str = "level3_chain") -> pd.DataFrame:
    """Drive a file-per-trigger stream through the executor-side chain and
    return the materialized latest-wins level3."""
    return _run_stream(spark, events_dir, schema, checkpoint_dir,
                       keyed_stream, "ts", query_name)


def finalize_open_chains(l3: pd.DataFrame) -> pd.DataFrame:
    """Era-close classification of still-open tails (I11's completeness gate:
    a chain with no successor when the stream closes is promoted to its
    terminal state). Orders in the synthetic close-with-delete family
    (order_id % 3 == 0) get the closing delete — price/amount/price-chain
    carried from the predecessor, NULL fill (the reference's
    abs(lag(...)) convention for price=0 deletes, db/bitfinex_schema.sql:
    397-399); everything else rests 'alive' (+infinity next_microtimestamp,
    db/obanalytics_schema.sql:149)."""
    l3 = l3.copy()
    is_open = l3["chain_state"].isna().to_numpy()
    closing = is_open & (l3["order_id"] % 3 == 0).to_numpy()
    if closing.any():
        # predecessor of each closing tail: (order, era, life, event_no − 1)
        key = ["order_id", "era", "life_no", "event_no"]
        carried = ["price", "amount", "price_microtimestamp",
                   "price_event_no"]
        tails = l3.loc[closing, key]
        tails["event_no"] = tails["event_no"] - 1
        found = tails.merge(
            l3[key + carried].drop_duplicates(key, keep="last"),
            on=key, how="left", indicator=True)
        hit = (found["_merge"] == "both").to_numpy()
        rows = l3.index[closing][hit]
        for c in carried:
            l3.loc[rows, c] = found.loc[hit, c].to_numpy().astype(l3[c].dtype)
        l3.loc[closing, "fill"] = None
    l3.loc[closing, "chain_state"] = "deleted"
    l3.loc[is_open & ~closing, "chain_state"] = "alive"
    return l3


def payload_keyed_stream(framed_stream):
    """REAL-FEED ADAPTER: a framed capture stream already carries identity
    and payload — project it onto the chain-processor contract unchanged
    (microtimestamp = the episode instant; price/amount/is_delete are the
    authoritative payload branch of ``advance_chain``; ``side`` is whatever
    the feed adapter assigned — first-amount sign for bitfinex, the order
    enum for bitstamp — never re-derived here)."""
    from pyspark.sql import functions as F

    return framed_stream.select(
        F.col("event_id"),
        F.col("local_ts").alias("local_timestamp"),
        F.col("episode_timestamp").alias("microtimestamp"),
        F.col("order_id"),
        F.col("pair_id").cast("int").alias("pair_id"),
        F.lit(1).cast("int").alias("exchange_id"),
        F.col("side"),
        F.col("era"),
        (F.col("price") == 0).alias("is_delete"),
        F.col("price"),
        F.abs(F.col("amount")).alias("amount"),
    )


def run_payload_chain_stream(spark, framed_dir: str, schema: str,
                             checkpoint_dir: str,
                             query_name: str = "level3_payload_chain"
                             ) -> pd.DataFrame:
    """File-per-trigger payload stream → executor-side chain → latest-wins
    level3 (the real-feed twin of :func:`run_chain_stream`)."""
    return _run_stream(spark, framed_dir, schema, checkpoint_dir,
                       payload_keyed_stream, "local_ts", query_name)
