"""Incremental raw-events → level3 ingestion (I1 + I8): the one chain machine.

Reference parity: ``bitfinex.capture_transient_raw_book_events`` (I1,
db/bitfinex_schema.sql:279-468) + ``level3_incorporate_new_event`` (I8,
db/obanalytics_schema.sql:1760-1834). The reference chains events with row
triggers on insert; here :func:`chain_events` advances every open chain of
ONE market-era (pair_id, exchange_id, era) by a batch of its keyed messages.
For each open (order, era) chain the market's state holds its tail: the last
event plus the fold state before/after it. A new message (a) replaces the
tail when the same episode is amended (per-episode dedup per (order_id,
microtimestamp) keeping the latest message, I1 :374-384), (b) links the tail
forward (next_microtimestamp / next_event_no / fill, I8 semantics), or (c)
is dropped when it is event-time-earlier than the tail (a cross-batch
straggler — never chained backward). The machine carries the full
enriched-synth semantics: REINCARNATION (mid-era deletes close a life; the
next event restarts event_no at 1 with life_no + 1 — reference
reincarnation_no, db/bitfinex_schema.sql:408-417), PRICE CHAINS
(price_microtimestamp / price_event_no track the first event of the current
price group within a life, :443-458), and delete-event carry (price/amount
from the previous event, NULL fill).

Every touched row is emitted as an UPDATE-mode version with a per-chain
monotone ``rev``; :func:`latest_wins` keeps the newest version per logical
row and :func:`finalize_open_chains` classifies still-open tails at era
close. Chain-terminal classification is tentative until then — exactly the
trigger model's behavior.

The state is partitioned by market: one state row per market-era holds its
open tails as one array per :data:`STATE_SCHEMA` field. Two drivers run the
same kernel: the Structured Streaming binding
(:mod:`obadiah_spark.streaming.chain`, ``applyInPandasWithState`` grouped by
market — state in the Spark state store, never on the driver) and
:class:`Level3Ingestor`, the single-process mirror the split-invariance tests
use, which holds each market's state row in memory.

Differential contract (tested): feeding the same events through any batch
split must reproduce the one-shot batch synthesis bit-for-bit.
"""

from __future__ import annotations

import functools
import itertools
from collections import namedtuple
from collections.abc import Iterator

import numpy as np
import pandas as pd

from obadiah_spark.fold import schema_dtypes, typed_frame

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

# one element per open chain of the market: its order_id, the fold state
# before the tail (7) + after the tail (7), the tail row (12) and its rev
# (side is DATA carried in state, never re-derived from order_id — a real
# feed's side assignment has no formula)
STATE_SCHEMA = ", ".join(f"{name} array<{t}>" for name, t in (
    ("order_id", "long"),
    ("b_seq", "int"), ("b_life", "int"), ("b_count", "int"),
    ("b_prev_price", "double"), ("b_prev_amount", "double"),
    ("b_pg_us", "long"), ("b_pg_eno", "int"),
    ("a_seq", "int"), ("a_life", "int"), ("a_count", "int"),
    ("a_prev_price", "double"), ("a_prev_amount", "double"),
    ("a_pg_us", "long"), ("a_pg_eno", "int"),
    ("t_us", "long"), ("t_eno", "int"), ("t_side", "string"),
    ("t_price", "double"), ("t_amount", "double"), ("t_fill", "double"),
    ("t_pms_us", "long"), ("t_pe_no", "int"), ("t_state", "string"),
    ("t_life", "int"), ("t_event_id", "long"), ("t_lts_us", "long"),
    ("rev", "long"),
))


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
    out["exchange_id"] = np.int32(1)
    out["side"] = (out["order_id"] % 4 < 2).map({True: "b", False: "s"})
    days = pd.to_timedelta(out["microtimestamp"].dt.weekday, unit="D")
    out["era"] = (out["microtimestamp"] - days).dt.normalize()
    return out


def advance_chain(state: _ChainState, r, row: dict | None = None) -> dict:
    """Advance one chain's fold state by event ``r`` (I8, the trigger body of
    ``level3_incorporate_new_event``); return the level3 row fields.

    Mutates ``state`` in place. ``row`` reuses an existing dict (tail
    amendment) so linked-forward pointers survive."""
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
    return s


def _unpack_tails(key: tuple, columns: tuple) -> dict:
    """order_id → [before, after, tail row, rev] from the market's state
    row (one array per STATE_SCHEMA field)."""
    pair_id, exchange_id, era = key
    tails = {}
    for oid, *t in zip(*columns):
        (t_us, t_eno, t_side, t_price, t_amount, t_fill, t_pms_us, t_pe_no,
         t_state, t_life, t_event_id, t_lts_us, rev) = t[14:]
        tails[oid] = [_unpack_chain(t[0:7]), _unpack_chain(t[7:14]), {
            "microtimestamp": _us_ts(t_us), "order_id": oid,
            "event_no": t_eno, "side": t_side, "price": t_price,
            "amount": t_amount, "fill": t_fill,
            "next_microtimestamp": None, "next_event_no": None,
            "pair_id": int(pair_id), "exchange_id": int(exchange_id),
            "local_timestamp": _us_ts(t_lts_us),
            "price_microtimestamp": _us_ts(t_pms_us),
            "price_event_no": t_pe_no, "chain_state": t_state, "era": era,
            "life_no": t_life, "event_id": t_event_id,
        }, rev]
    return tails


def _pack_tails(tails: dict) -> tuple:
    rows = [(oid, *_pack_chain(before), *_pack_chain(after),
             _ts_us(tail["microtimestamp"]), tail["event_no"], tail["side"],
             tail["price"], tail["amount"], tail["fill"],
             _ts_us(tail["price_microtimestamp"]), tail["price_event_no"],
             tail["chain_state"], tail["life_no"], tail["event_id"],
             _ts_us(tail["local_timestamp"]), rev)
            for oid, (before, after, tail, rev) in tails.items()]
    return tuple(map(list, zip(*rows)))


@functools.cache
def _row_type(cols: tuple[str, ...]) -> type:
    return namedtuple("Row", cols)


def _latest_rows(pdf: pd.DataFrame) -> Iterator[tuple]:
    """The market's messages as named row tuples in (order_id,
    microtimestamp, local_timestamp, event_id) order, keeping the LATEST
    message per (order_id, microtimestamp) (per-episode dedup, I1
    :374-384)."""
    oid = pdf["order_id"].to_numpy()
    ts = pdf["microtimestamp"].to_numpy().view("i8")
    order = np.lexsort((pdf["event_id"].to_numpy(),
                        pdf["local_timestamp"].to_numpy(), ts, oid))
    o, t = oid[order], ts[order]
    idx = order[np.append((o[1:] != o[:-1]) | (t[1:] != t[:-1]), True)]
    cols = tuple(pdf.columns)
    return map(_row_type(cols)._make,
               zip(*[pdf[c].iloc[idx].tolist() for c in cols]))


def chain_events(key: tuple, pdfs: Iterator[pd.DataFrame], state
                 ) -> Iterator[pd.DataFrame]:
    """Advance every open chain of one market-era ``key`` = (pair_id,
    exchange_id, era) by its messages ``pdfs``; ``state`` is the market's
    ``GroupState`` (or any object with its ``exists``/``get``/``update``).
    Yields the touched rows as versions with a per-chain ``rev``."""
    frames = list(pdfs)
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames,
                                                       ignore_index=True)
    tails = _unpack_tails(key, state.get) if state.exists else {}
    emitted: list[tuple] = []

    def emit(row: dict) -> None:
        nonlocal rev
        rev += 1
        emitted.append((*map(row.__getitem__, _ROW_COLS), rev))

    for oid, msgs in itertools.groupby(_latest_rows(pdf),
                                       key=lambda r: int(r.order_id)):
        before, after, tail, rev = tails.get(oid, (None, None, None, 0))
        for r in msgs:
            if tail is not None and r.microtimestamp < tail["microtimestamp"]:
                # CROSS-BATCH STRAGGLER: an event-time-earlier message in a
                # later batch. withWatermark only DROPS rows older than the
                # watermark — it does not reorder across batches — so
                # chaining it would write a backward next_microtimestamp and
                # corrupt event_no/fill. Both in-repo transports deliver
                # capture-ordered batches, so this fires only on a
                # disordered external feed — where the reference's
                # reorderer applies the SAME contract beyond its slack:
                # drop rather than corrupt (python/obadiah/capture.py
                # reorderer). In-slack cross-batch reordering would need a
                # watermark-gated pending buffer in the state row.
                continue
            if tail is not None and tail["microtimestamp"] == r.microtimestamp:
                # cross-batch episode amendment: the later message replaces
                # the tail if newer by (local_timestamp, event_id)
                if (r.local_timestamp, r.event_id) < (
                        tail["local_timestamp"], tail["event_id"]):
                    continue
                after = before.copy()
                advance_chain(after, r, tail)
            else:
                if tail is None:
                    before = _ChainState()
                else:
                    if tail["chain_state"] is None:   # not a delete → link
                        tail["next_microtimestamp"] = r.microtimestamp
                        tail["next_event_no"] = tail["event_no"] + 1
                        tail["chain_state"] = "chained"
                        emit(tail)
                    before = after
                after = before.copy()
                tail = advance_chain(after, r)
            emit(tail)
        tails[oid] = [before, after, tail, rev]
    state.update(_pack_tails(tails))
    if not emitted:          # only stale replays or stragglers — no change
        # yield nothing at all: an empty all-object frame makes pandas'
        # downstream concat warn (and, on a future pandas, change the
        # result dtypes) — the generator protocol allows a bare return
        return
    yield typed_frame(dict(zip(_OUT_COLS, zip(*emitted))), _OUT_DTYPES)


def latest_wins(ups: pd.DataFrame) -> pd.DataFrame:
    """Materialize update-mode versions: the max-``rev`` version of each
    logical row (pair, exchange, era, order, microtimestamp) — how a DB
    mirror of the reference's table consumes its in-place updates."""
    return (
        ups.sort_values("rev")
        .drop_duplicates(["pair_id", "exchange_id", "era", "order_id",
                          "microtimestamp"], keep="last")
        .drop(columns=["rev"])
        .reset_index(drop=True)
    )


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


class _HeldState:
    """In-memory stand-in for one market's ``GroupState``."""

    exists = False

    def update(self, value: tuple) -> None:
        self.get, self.exists = value, True


class Level3Ingestor:
    """Single-process driver of :func:`chain_events`: each batch is keyed,
    grouped by market-era and fed to the kernel with that market's state
    held in memory; :meth:`finalize` takes the same steps the stream's
    consumer does."""

    _keyed = staticmethod(keyed_events)

    def __init__(self) -> None:
        self.states: dict[tuple, _HeldState] = {}
        self.versions: list[pd.DataFrame] = []

    def process_batch(self, batch: pd.DataFrame) -> None:
        ev = self._keyed(batch)
        # a keyed frame without exchange_id is one exchange, as
        # advance_chain stamps it
        ev = ev.assign(exchange_id=ev.get("exchange_id", 1))
        for key, pdf in ev.groupby(["pair_id", "exchange_id", "era"]):
            state = self.states.setdefault(key, _HeldState())
            self.versions.extend(chain_events(key, [pdf], state))

    def latest(self) -> pd.DataFrame:
        """Latest-wins level3 with open tails still unclassified."""
        empty = typed_frame({c: [] for c in _OUT_COLS}, _OUT_DTYPES)
        return latest_wins(pd.concat(self.versions or [empty],
                                     ignore_index=True))

    def finalize(self) -> pd.DataFrame:
        return finalize_open_chains(self.latest())
