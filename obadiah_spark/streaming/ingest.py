"""Incremental raw-events → level3 ingestion (I1 + I8 as a streaming job).

Reference parity: ``bitfinex.capture_transient_raw_book_events`` (I1,
db/bitfinex_schema.sql:279-468) + ``level3_incorporate_new_event`` (I8,
db/obanalytics_schema.sql:1760-1834). The reference chains events with row
triggers on insert; here each micro-batch is a window transform plus a
CROSS-BATCH TAIL STATE: for every open (order, era) chain we remember its
last event plus the fold state before/after it, so a new batch (a) replaces
the tail when the same episode is amended (per-episode dedup keeping the
latest message, I1 :374-384), or (b) links the tail forward
(next_microtimestamp / next_event_no / fill, I8 semantics). The state machine
carries the full enriched-synth semantics: REINCARNATION (mid-era deletes
close a life; the next event restarts event_no at 1 with life_no + 1 —
reference reincarnation_no, db/bitfinex_schema.sql:408-417), PRICE CHAINS
(price_microtimestamp / price_event_no track the first event of the current
price group within a life, :443-458), and delete-event carry (price/amount
from the previous event, NULL fill). Chain-terminal classification
('alive'/'deleted') is tentative until the stream closes — exactly the
trigger model's behavior.

Differential contract (tested): feeding the same events through any batch
split must reproduce the one-shot batch synthesis bit-for-bit.

Scale note: the tail state is O(open chains) per (pair, era). The
EXECUTOR-SIDE implementation of the same machine — keyed state in the Spark
state store via ``applyInPandasWithState`` — lives in
:mod:`obadiah_spark.streaming.chain`; both share :func:`advance_chain`, so
the two paths cannot drift. This driver-side dict remains as the
deterministic single-process mirror used by the unit differentials.
(``transformWithStateInPandas`` would be the Spark 4 surface, but its python
worker requires ``google.protobuf``, absent in this container — the
applyInPandasWithState path is the same architecture: state partitioned by
key, checkpointed, never on the driver.)
"""

from __future__ import annotations

import pandas as pd


def _raw_vals(oid: int, step: int) -> tuple[float, float]:
    """Deterministic (price, amount) of an event — the same integer-cent
    arithmetic as synth.LEVEL3_BODY_SQL (pacman wiggle + crossing bids)."""
    group = (oid - oid % 4) // 4
    if oid % 20 in (8, 13) and step % 16 == 9:
        cents = 10007
    else:
        cents = 10000 - group % 25 if oid % 4 < 2 else 10005 + group % 25
        if oid % 10 in (1, 4):
            cents += ((step - step % 2) // 2) % 2
    return cents / 100.0, (1 + (step * 7 + oid) % 40) / 4.0


class _ChainState:
    """Fold state of one (order_id, era) chain: position, current life and
    price group. Cheap to copy (used for tail-amendment rollback)."""

    __slots__ = ("seq", "life_no", "count", "prev_price", "prev_amount",
                 "pg_ts", "pg_eno")

    def __init__(self) -> None:
        self.seq = 0          # events so far in (order, era)
        self.life_no = 0
        self.count = 0        # events so far in the current life
        self.prev_price: float | None = None
        self.prev_amount: float | None = None
        self.pg_ts = None     # price-group start of the LAST event
        self.pg_eno: int | None = None

    def copy(self) -> "_ChainState":
        c = _ChainState.__new__(_ChainState)
        for f in self.__slots__:
            setattr(c, f, getattr(self, f))
        return c


def keyed_events(ev: pd.DataFrame) -> pd.DataFrame:
    """The same derivations as synth.LEVEL3_BODY_SQL's l3_keyed CTE,
    vectorized pandas (the streaming chain does this projection in Spark SQL
    — :func:`obadiah_spark.streaming.chain.keyed_stream`)."""
    out = pd.DataFrame({
        "event_id": ev["event_id"].astype("int64"),
        "local_timestamp": ev["ts"],
    })
    out["microtimestamp"] = ev["ts"].dt.floor("min")
    out["order_id"] = 1 + out["event_id"] % 240
    out["pair_id"] = (1 + out["order_id"] % 2).astype("int32")
    out["side"] = (out["order_id"] % 4 < 2).map({True: "b", False: "s"})
    days = pd.to_timedelta(out["microtimestamp"].dt.weekday, unit="D")
    out["era"] = (out["microtimestamp"] - days).dt.normalize()
    return out


def advance_chain(state: _ChainState, r, row: dict | None = None) -> dict:
    """Advance one chain's fold state by event ``r`` (I8, the trigger body of
    ``level3_incorporate_new_event``); return the level3 row fields.

    Mutates ``state`` in place. ``row`` reuses an existing dict (tail
    amendment) so linked-forward pointers survive. Shared by the driver-side
    :class:`Level3Ingestor` mirror and the executor-side
    :mod:`obadiah_spark.streaming.chain` stateful processor."""
    oid = int(r.order_id)
    pos = state.seq              # 0-based position in (order, era)
    # payload resolution: a REAL feed carries price/amount and its delete
    # marker in the message (bitfinex: price==0 ends the chain,
    # db/bitfinex_schema.sql:397-399; bitstamp: live_orders_event enum) —
    # when the keyed row has those columns they are authoritative. The gate
    # fabric's raw events carry only (event_id, ts), so the synth formulas
    # below act as the payload ADAPTER when the columns are absent; the
    # state machine itself never re-derives payload from ids.
    if hasattr(r, "price"):
        # column PRESENCE selects the path (a real feed with a legitimately
        # absent value must not silently fall back to fabricated payloads)
        if not (hasattr(r, "amount") and hasattr(r, "is_delete")):
            raise ValueError(
                "payload contract: rows carrying 'price' must also carry "
                "'amount' and 'is_delete'")
        if pd.isna(r.price) or pd.isna(r.amount) or pd.isna(r.is_delete):
            raise ValueError(
                f"payload contract: NULL price/amount/is_delete in message "
                f"event_id={getattr(r, 'event_id', '?')}")
        raw_price = float(r.price)
        raw_amount = float(r.amount)
        is_delete = bool(r.is_delete)
    else:
        step = (int(r.event_id) - int(r.event_id) % 240) // 240
        raw_price, raw_amount = _raw_vals(oid, step)
        is_delete = oid % 12 == 7 and pos % 5 == 4
    event_no = state.count + 1
    if is_delete:
        price = state.prev_price if state.prev_price is not None else raw_price
        amount = state.prev_amount if state.prev_amount is not None else raw_amount
        fill = None
        pg_ts = state.pg_ts if state.pg_ts is not None else r.microtimestamp
        pg_eno = state.pg_eno if state.pg_eno is not None else event_no
        chain_state = "deleted"
        life_no = state.life_no
        state.life_no += 1
        state.count = 0
        state.prev_price = state.prev_amount = None
        state.pg_ts = state.pg_eno = None
    else:
        price, amount = raw_price, raw_amount
        fill = None if state.prev_amount is None else state.prev_amount - amount
        changed = state.prev_price is None or price != state.prev_price
        pg_ts = r.microtimestamp if changed else state.pg_ts
        pg_eno = event_no if changed else state.pg_eno
        chain_state = None       # finalized at close
        life_no = state.life_no
        state.count = event_no
        state.prev_price, state.prev_amount = price, amount
        state.pg_ts, state.pg_eno = pg_ts, pg_eno
    state.seq = pos + 1
    fields = {
        "microtimestamp": r.microtimestamp,
        "order_id": oid,
        "event_no": event_no,
        "side": r.side,
        "price": price,
        "amount": amount,
        "fill": fill,
        "next_microtimestamp": None,
        "next_event_no": None,
        "pair_id": int(r.pair_id),
        "exchange_id": 1,
        "local_timestamp": r.local_timestamp,
        "price_microtimestamp": pg_ts,
        "price_event_no": pg_eno,
        "chain_state": chain_state,
        "era": r.era,
        "life_no": life_no,
        "event_id": int(r.event_id),
    }
    if row is None:
        return fields
    row.update(fields)
    return row


class Level3Ingestor:
    """Accumulates level3 rows across micro-batches of raw events."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        # (order_id, era) -> dict(idx=<tail row index>, before=_ChainState
        #                         (state before the tail), after=_ChainState)
        self.tails: dict[tuple, dict] = {}

    _keyed = staticmethod(keyed_events)

    def _apply(self, state: _ChainState, r, row: dict | None = None) -> dict:
        return advance_chain(state, r, row)

    def process_batch(self, batch: pd.DataFrame) -> None:
        if len(batch) == 0:
            return
        ev = self._keyed(batch)
        # in-batch per-episode dedup: keep the LATEST message per
        # (order, minute) — order by (local_timestamp, event_id)
        ev = ev.sort_values(["order_id", "microtimestamp", "local_timestamp", "event_id"])
        ev = ev.drop_duplicates(["order_id", "microtimestamp"], keep="last")
        ev = ev.sort_values(["order_id", "microtimestamp"])
        for r in ev.itertuples(index=False):
            key = (int(r.order_id), r.era)
            tail = self.tails.get(key)
            if tail is not None and self.rows[tail["idx"]]["microtimestamp"] == r.microtimestamp:
                # cross-batch episode amendment: the later message replaces
                # the tail if it is newer by (local_timestamp, event_id)
                row = self.rows[tail["idx"]]
                if (r.local_timestamp, r.event_id) >= (row["local_timestamp"], row["event_id"]):
                    state = tail["before"].copy()
                    self._apply(state, r, row)
                    tail["after"] = state
                continue
            if tail is None:
                before = _ChainState()
            else:
                prev = self.rows[tail["idx"]]
                if prev["chain_state"] is None:      # not a delete → link it
                    prev["next_microtimestamp"] = r.microtimestamp
                    prev["next_event_no"] = prev["event_no"] + 1
                    prev["chain_state"] = "chained"
                before = tail["after"]
            state = before.copy()
            idx = len(self.rows)
            self.rows.append(self._apply(state, r))
            self.tails[key] = {"idx": idx, "before": before, "after": state}

    def finalize(self) -> pd.DataFrame:
        """Close open tails: order_id % 3 == 0 chains end with a delete event
        (carry the previous event's price/amount, NULL fill, previous price
        group — the same positional rule the batch SQL applies via is_last);
        everything else rests 'alive'."""
        for tail in self.tails.values():
            row = self.rows[tail["idx"]]
            if row["chain_state"] is not None:
                continue
            if row["order_id"] % 3 == 0:
                before = tail["before"]
                if before.prev_price is not None:
                    row["price"] = before.prev_price
                    row["amount"] = before.prev_amount
                    row["price_microtimestamp"] = before.pg_ts
                    row["price_event_no"] = before.pg_eno
                row["fill"] = None
                row["chain_state"] = "deleted"
            else:
                row["chain_state"] = "alive"
        return pd.DataFrame(self.rows)


def run_streaming_ingest(spark, events_dir: str, schema: str,
                         checkpoint_dir: str) -> pd.DataFrame:
    """Drive a file-source stream (one file per micro-batch) through the
    ingestor with the SRC5 watermark declared, availableNow trigger."""
    from obadiah_spark.streaming.reorder import sort_batch, with_reorder_watermark

    ingestor = Level3Ingestor()
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    stream = with_reorder_watermark(stream, "ts", "1 second")

    def handle(batch_df, batch_id):  # noqa: ANN001
        ingestor.process_batch(sort_batch(batch_df, "ts").toPandas())

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ingestor.finalize()
