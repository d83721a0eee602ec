"""SRC1 + SRC3/SRC4 capture halves — the websocket capture loop re-expressed
as a Structured Streaming job.

Reference parity:
- ``capture()`` (python/obadiah/capture.py:99-170): a reconnecting websocket
  consumer stamps each frame with a local timestamp, queues it, and a
  per-exchange ``MessageHandler`` dispatches dict messages by their
  ``event`` field and list messages to the channel's data handler
  (capture.py:76-93, bitfinex.py:154-203).
- ``BitfinexBookDataHandler`` (bitfinex.py:28-118): R0 book frames
  ``[chanId, [order_id, price, amount], rts_ms]`` (or a nested snapshot
  list) are buffered and COPYed into ``bitfinex.transient_raw_book_events``
  in batches of ≥ MIN_SAVE_COUNT; ``hb`` frames are skipped.
- ``BitfinexTradeDataHandler`` (bitfinex.py:121-151): ``te`` frames are
  skipped, ``tu`` frames ``[id, mts_ms, qty, price]`` and trade snapshots
  are inserted into ``bitfinex.transient_trades``.

Spark-first decomposition (NOT a port of the asyncio machinery):
- **transport**: ``readStream.format("socket")`` — or a text-file directory
  for deterministic tests and replays — replaces the websocket client. The
  hand-written reconnect loop becomes streaming-query restart from the
  checkpoint; the sandbox has no network, so the websocket endpoint itself
  is a deployment config, not code.
- **local timestamps**: stamped per micro-batch on arrival
  (``current_timestamp()``), the streaming analogue of
  ``lts = datetime.now()`` at ``ws.recv()`` (capture.py:137).
- **parse**: one Arrow-batched pass over the raw lines (``mapInPandas``
  shape). The reference parses JSON in driver Python per message
  (capture.py:87); here the parse is executor-side and vectorized — the
  single intentional Python edge of the ingest path.
- **channel registry**: ``subscribed`` events become *rows*; the
  chanId → channel routing table is folded across batches into a tiny JSON
  sidecar next to the sink (the reference's ``self.channels`` dict,
  bitfinex.py:190-196, made restart-safe).
- **episode framing**: deliberately NOT done at capture time. The reference
  frames episodes in the capture client only because COPY wants complete
  episodes; this engine appends raw rows and frames on promotion with the
  gate-tested SRC2 transform (:func:`obadiah_spark.sources.bitstamp.
  frame_episodes`) — episodes spanning micro-batches are then handled by a
  window, not by client state.
- **batch threshold**: micro-batches already batch; ``min_save_count``
  optionally buffers small batches driver-side exactly like the
  reference's ``self.records`` (same crash-window caveat the reference
  has, bitfinex.py:84-95). Delivery: the default 0 writes each batch to a
  batchId-keyed parquet leaf with overwrite — idempotent under
  foreachBatch replay, i.e. effectively exactly-once; the buffered path
  (> 0) is at-least-once with dedup-on-promote via ``event_id``.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# one normalized row per payload entry; f0..f3 are the positional fields of
# a book triple / trade quad — they get real names only after the registry
# join resolves the channel (the reference routes on chanId the same way)
PARSED_SCHEMA = (
    "kind string, event string, chan_id int, channel string, tag string, "
    "arity int, is_snapshot boolean, rts_ms long, "
    "f0 double, f1 double, f2 double, f3 double, line_no long, entry_no int"
)

_PARSED_COLS = ["kind", "event", "chan_id", "channel", "tag", "arity",
                "is_snapshot", "rts_ms", "f0", "f1", "f2", "f3", "line_no",
                "entry_no"]


def _garbage(line_no: int, chan=None, tag=None) -> list[tuple]:
    return [("garbage", None, chan, None, tag, None, None, None,
             None, None, None, None, line_no, 0)]


def _parse_one(line: str, line_no: int) -> list[tuple]:
    """Classify one wire line → normalized rows (no registry needed).

    Tolerance contract: a malformed line NEVER raises — it classifies as
    ``garbage`` (one bad wire frame must not kill the capture query; the
    quarantine sink exists precisely so nothing is silently lost)."""
    try:
        return _parse_one_strict(line, line_no)
    except Exception:
        # structurally-valid JSON with broken content (short 'tu', a
        # non-numeric payload member, a non-integer chanId, ...) is garbage
        # by the same contract as unparseable JSON
        return _garbage(line_no)


def _parse_one_strict(line: str, line_no: int) -> list[tuple]:
    try:
        msg = json.loads(line)
    except (ValueError, TypeError):
        return _garbage(line_no)
    if isinstance(msg, dict):
        # dict messages dispatch on 'event' (capture.py:89-90); only
        # 'subscribed' carries routing state the sink needs
        return [("event", str(msg.get("event")),
                 int(msg["chanId"]) if "chanId" in msg else None,
                 str(msg.get("channel")) if "channel" in msg else None,
                 None, None, None, None, None, None, None, None, line_no, 0)]
    if not isinstance(msg, list) or len(msg) < 2:
        return _garbage(line_no)
    chan = int(msg[0])
    payload = msg[1]
    rts_ms = int(msg[2]) if len(msg) > 2 and isinstance(msg[2], (int, float)) \
        else None
    if isinstance(payload, str):
        if payload in ("hb", "te"):
            # heartbeats and 'te' pre-trades are dropped by both handlers
            return [("data", None, chan, None, payload, None, False, rts_ms,
                     None, None, None, None, line_no, 0)]
        if payload == "tu":
            entry = msg[2]
            # slice to 4 like the snapshot/update paths — a >4-member
            # entry must not build an oversized row (pd.DataFrame would
            # raise OUTSIDE the per-line try/except and kill the query)
            vals = ([float(x) for x in entry] + [None] * 4)[:4]
            return [("data", None, chan, None, "tu", len(entry), False, None,
                     *vals, line_no, 0)]
        return _garbage(line_no, chan, payload)
    if isinstance(payload, list) and payload and isinstance(payload[0], list):
        # snapshot: nested list of entries (book triple / trade quad)
        # entry_no: position within the snapshot — each expanded row needs
        # its own slot in the capture sequence (same line_no otherwise)
        out = []
        for i, entry in enumerate(payload):
            vals = [float(x) for x in entry] + [None] * (4 - len(entry))
            out.append(("data", None, chan, None, "snapshot", len(entry),
                        True, rts_ms, *vals[:4], line_no, i))
        return out
    vals = [float(x) for x in payload] + [None] * (4 - len(payload))
    return [("data", None, chan, None, "update", len(payload), False, rts_ms,
             *vals[:4], line_no, 0)]


def parse_frames(lines: DataFrame) -> DataFrame:
    """Wire parse: ``value`` (one line per row) → normalized frame rows.
    Works on batch and streaming frames alike; output is line_no-keyed, so
    evaluation order is irrelevant.

    One Arrow-batched Python pass (``mapInPandas``) over the lines. It
    outran every JVM ``from_json`` hybrid measured (SCALE.md §6: 1.5–3.8×
    on both wire dialects), so it is the only parse lane."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for line, no in zip(pdf["value"], pdf["line_no"]):
                rows.extend(_parse_one(line, int(no)))
            yield pd.DataFrame(rows, columns=_PARSED_COLS)

    return (lines.withColumn("line_no", F.monotonically_increasing_id())
            .mapInPandas(gen, schema=PARSED_SCHEMA))


# ------------------------------------------------------- channel registry --

def _registry_path(bronze_path: str) -> str:
    return os.path.join(bronze_path, "_channel_registry.json")


def load_registry(bronze_path: str) -> dict[int, str]:
    try:
        with open(_registry_path(bronze_path)) as fh:
            return {int(k): v for k, v in json.load(fh).items()}
    except (OSError, ValueError):
        return {}


def _save_registry(bronze_path: str, registry: dict[int, str]) -> None:
    os.makedirs(bronze_path, exist_ok=True)
    with open(_registry_path(bronze_path), "w") as fh:
        json.dump({str(k): v for k, v in registry.items()}, fh)


# flush leaves live in a reserved batch_seq range streaming batch ids never
# reach; everything below it is a per-batch leaf
_FLUSH_BASE = 1 << 40


def _existing_batch_seqs(bronze_path: str, subs: Iterable[str]) -> list[int]:
    """All ``batch_seq=N`` leaf numbers already present under the bronze
    subdirectories (local/NFS paths — same deployment assumption as the
    JSON registry sidecar above; an object-store bronze would swap this
    for a Hadoop-FS listing)."""
    seqs: list[int] = []
    for sub in subs:
        try:
            names = os.listdir(os.path.join(bronze_path, sub))
        except OSError:
            continue
        for name in names:
            if name.startswith("batch_seq="):
                try:
                    seqs.append(int(name.split("=", 1)[1]))
                except ValueError:
                    continue
    return seqs


def _resolve_seq_base(bronze_path: str, subs: Iterable[str],
                      session_dir: str | None) -> int:
    """Per-capture-session base added to streaming batch ids.

    Restarting FROM the same checkpoint (``session_dir``) is the same
    logical capture session: the persisted base is reused so a replayed
    batch overwrites its own leaf (idempotent) and re-derives the same
    ``event_id``s. A NEW session writing into an existing bronze path
    (fresh checkpoint — streaming batch ids restart at 0) starts past
    every existing leaf instead, so it can neither clobber earlier
    sessions' bronze nor mint colliding event_ids."""
    sidecar = (os.path.join(session_dir, "_capture_session.json")
               if session_dir is not None else None)
    if sidecar is not None:
        try:
            with open(sidecar) as fh:
                return int(json.load(fh)["seq_base"])
        except (OSError, ValueError, KeyError):
            pass
    base = max((s for s in _existing_batch_seqs(bronze_path, subs)
                if s < _FLUSH_BASE), default=-1) + 1
    if sidecar is not None:
        os.makedirs(session_dir, exist_ok=True)
        with open(sidecar, "w") as fh:
            json.dump({"seq_base": base}, fh)
    return base


# --------------------------------------------------------------- the sink --

BOOK_COLS = ["exchange_ts", "order_id", "price", "amount", "pair_id",
             "local_ts", "channel_id", "is_snapshot", "event_id"]
# explicit sink schemas: the buffered flush() path must NOT type-infer from
# pandas (an all-None column, e.g. exchange_ts for frames without rts,
# would fail inference or drift vs the write-per-batch parquet schema)
BOOK_SCHEMA = ("exchange_ts timestamp, order_id long, price double, "
               "amount double, pair_id int, local_ts timestamp, "
               "channel_id int, is_snapshot boolean, event_id long")
TRADE_SCHEMA = ("id long, qty double, price double, "
                "local_timestamp timestamp, exchange_timestamp timestamp, "
                "pair_id int, channel_id int")


def route_batch(parsed: DataFrame, registry: dict[int, str], pair_id: int,
                batch_seq: int = 0) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split normalized frames into (raw_book, raw_trades, unrouted) by
    registry.

    ``event_id`` is the deterministic capture sequence the SRC2 framing
    window orders by: (batch_seq << 33) + row_number over
    (line_no, entry_no). The explicit row_number (not raw line_no) fixes
    two collision classes: ``monotonically_increasing_id`` puts the
    partition id in bits ≥ 33 on multi-partition frames (which would
    alias a later batch's partition-0 range), and snapshot expansion
    yields several rows per wire line (same line_no). The global window
    is a single-partition pass — a capture batch is seconds of wire
    frames from one serial socket, so that IS its natural shape, not a
    bottleneck (``CaptureSink`` coalesces to one partition up front).
    Book columns line up with
    :func:`obadiah_spark.sources.bitstamp.frame_episodes` input
    (``channel_id`` rides along as the per-channel window axis)."""
    book_chans = [c for c, ch in registry.items() if ch == "book"]
    trade_chans = [c for c, ch in registry.items() if ch == "trades"]

    def _in(chans: list[int]):
        # isin([]) is rejected by the analyzer
        return F.col("chan_id").isin(chans) if chans else F.lit(False)

    from pyspark.sql import Window

    lts = F.col("_lts")
    eid = F.col("_eid")
    data = parsed.filter(F.col("kind") == "data").withColumn(
        "_eid",
        (F.lit(int(batch_seq) << 33)
         + F.row_number().over(Window.orderBy("line_no", "entry_no"))
         - F.lit(1)).cast("long"))
    book = (
        data.filter(_in(book_chans)
                    & F.col("tag").isin(["snapshot", "update"]))
        .select(
            F.timestamp_millis(F.col("rts_ms")).alias("exchange_ts"),
            F.col("f0").cast("long").alias("order_id"),
            F.col("f1").alias("price"),
            F.col("f2").alias("amount"),
            F.lit(pair_id).cast("int").alias("pair_id"),
            lts.alias("local_ts"),
            F.col("chan_id").alias("channel_id"),
            F.col("is_snapshot"),
            eid.alias("event_id"),
        )
    )
    trades = (
        data.filter(_in(trade_chans)
                    & F.col("tag").isin(["snapshot", "tu"]))
        .select(
            F.col("f0").cast("long").alias("id"),
            F.col("f2").alias("qty"),
            F.col("f3").alias("price"),
            lts.alias("local_timestamp"),
            F.timestamp_millis(F.col("f1").cast("long"))
            .alias("exchange_timestamp"),
            F.lit(pair_id).cast("int").alias("pair_id"),
            F.col("chan_id").alias("channel_id"),
        )
    )
    known = book_chans + trade_chans
    # frames on a channel with no subscription yet: the reference KeyErrors
    # and crashes the handler (bitfinex.py:199); a lost-data crash is the
    # wrong failure mode for a stream job, so these go to quarantine — raw
    # enough to re-route once the registry knows the channel (e.g. a replay
    # whose subscribe frames arrive late)
    unrouted = (
        data.filter(~_in(known) if known else F.lit(True))
        .filter(~F.col("tag").isin(["hb", "te"]))
        .select("chan_id", "tag", "arity", "is_snapshot", "rts_ms",
                "f0", "f1", "f2", "f3", lts.alias("local_ts"),
                eid.alias("event_id"))
    )
    return book, trades, unrouted


class CaptureSink:
    """foreachBatch body: registry fold + routed parquet appends.

    Mirrors the reference handler lifecycle: ``subscribed`` events update
    the routing table (bitfinex.py:190-196) BEFORE the batch's data frames
    are routed — within one batch this ordering is positional
    (``line_no``), matching the wire, because a channel cannot emit data
    before its subscription confirm. ``min_save_count`` buffers small
    batches driver-side like the reference's ``self.records``
    (bitfinex.py:84-95); ``flush()`` is the ``close()`` analogue."""

    def __init__(self, bronze_path: str, pair_id: int,
                 min_save_count: int = 0,
                 session_dir: str | None = None) -> None:
        self.bronze_path = bronze_path
        self.pair_id = pair_id
        self.min_save_count = min_save_count
        self.registry = load_registry(bronze_path)
        self._book_buf: list[pd.DataFrame] = []
        self._trade_buf: list[pd.DataFrame] = []
        self._buffered = 0
        self._seq_base = _resolve_seq_base(
            bronze_path, ("raw_book", "raw_trades", "_unrouted"), session_dir)
        # flush counter continues past every flush leaf already on disk:
        # an in-memory 0 would make a restarted session's first flush
        # overwrite the previous session's first flush leaf — batches that
        # are committed in the old checkpoint and will never replay
        self._flush_no = max(
            (s for s in _existing_batch_seqs(
                bronze_path, ("raw_book", "raw_trades"))
             if s >= _FLUSH_BASE), default=_FLUSH_BASE - 1) + 1 - _FLUSH_BASE
        self._spark: SparkSession | None = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._spark = batch_df.sparkSession
        batch_seq = self._seq_base + int(batch_id)
        # one partition per batch: a single row_number window over
        # (line_no, entry_no) then numbers the batch's payload entries
        # 0..n-1 in wire order, so event_id = (batch_seq << 33) + entry_rank
        # is collision-free across batches and sessions (batch_seq is
        # session-offset) and ordered exactly like the wire. Capture
        # batches are seconds of frames from one serial socket — never
        # large.
        # persist: the registry probe and the three routed writes are
        # separate actions — without it each re-runs the wire parse AND
        # re-resolves current_timestamp, giving one batch's book/trade/
        # quarantine rows different local timestamps. The probe's collect
        # materializes every partition (there is exactly one), so _lts is
        # frozen at first evaluation — the reference stamps lts once per
        # message at receive for the same reason (capture.py:137)
        parsed = (
            parse_frames(batch_df.select("value").coalesce(1))
            .withColumn("_lts", F.current_timestamp())
        ).persist()
        try:
            subs = (
                parsed.filter((F.col("kind") == "event")
                              & (F.col("event") == "subscribed"))
                .select("chan_id", "channel").collect()
            )
            for r in subs:  # tiny: one row per (re)subscription
                self.registry[int(r.chan_id)] = r.channel
            if subs:
                _save_registry(self.bronze_path, self.registry)
            book, trades, unrouted = route_batch(
                parsed, self.registry, self.pair_id, batch_seq=batch_seq)
            # quarantine writes immediately (never buffered: it exists so
            # no frame is ever only in driver memory for an unknown
            # channel); batch_seq-keyed overwrite → idempotent under replay
            unrouted.write.mode("overwrite").parquet(
                self._batch_dir("_unrouted", batch_seq))
            if self.min_save_count <= 0:
                self._write(book, trades, batch_seq)
                return
            bp, tp = book.toPandas(), trades.toPandas()
            self._book_buf.append(bp)
            self._trade_buf.append(tp)
            self._buffered += len(bp) + len(tp)
            if self._buffered >= self.min_save_count:
                self.flush()
        finally:
            parsed.unpersist()

    def _batch_dir(self, sub: str, batch_seq: int) -> str:
        # Hive-style batch_seq=N leaf: readers of the table root discover
        # it as an extra int partition column; re-running the same batch
        # (same session → same session-offset batch_seq) OVERWRITES its own
        # leaf → the write-per-batch path is idempotent (exactly-once
        # effective) under foreachBatch's at-least-once replay
        return os.path.join(self.bronze_path, sub, f"batch_seq={batch_seq}")

    def _write(self, book: DataFrame, trades: DataFrame,
               batch_seq: int) -> None:
        book.write.mode("overwrite").parquet(
            self._batch_dir("raw_book", batch_seq))
        trades.write.mode("overwrite").parquet(
            self._batch_dir("raw_trades", batch_seq))

    def flush(self) -> None:
        """Write out the driver-side buffer (min_save_count > 0 path).

        This path is AT-LEAST-ONCE: a crash after a partial flush replays
        the contributing batches on restart. Promotion dedups on
        ``event_id`` (the I1 dedup window), so duplicates never reach
        level3 — same recovery contract the reference's buffered COPY has
        (bitfinex.py:84-95).

        Flushes write into the SAME Hive-style ``batch_seq=N`` layout as
        the write-per-batch path — a flat file at the table root would
        break partition discovery for the whole bronze table if the two
        modes ever touched one path. Flush leaves use the reserved range
        ``batch_seq >= 1<<40`` (streaming batch ids never reach it), one
        leaf per flush; the counter resumes past leaves already on disk
        (see ``__init__``), so a restarted session never overwrites a
        prior session's flushes."""
        if not self._buffered or self._spark is None:
            return
        leaf = _FLUSH_BASE + self._flush_no
        self._flush_no += 1
        for buf, sub, schema in (
                (self._book_buf, "raw_book", BOOK_SCHEMA),
                (self._trade_buf, "raw_trades", TRADE_SCHEMA)):
            if not buf:
                continue
            pdf = pd.concat(buf, ignore_index=True)
            if len(pdf):
                # explicit schema: an all-None column (e.g. exchange_ts for
                # frames without rts) must not fail or drift type inference
                self._spark.createDataFrame(
                    pdf, schema=schema).write.mode("overwrite").parquet(
                    self._batch_dir(sub, leaf))
        self._book_buf, self._trade_buf, self._buffered = [], [], 0


def capture(spark: SparkSession, bronze_path: str, ckpt_path: str,
            pair_id: int, *, host: str | None = None, port: int | None = None,
            files_dir: str | None = None, min_save_count: int = 0,
            max_files_per_trigger: int | None = None):
    """SRC1 entry point: start the capture loop as a streaming query.

    Exactly one transport: ``host``/``port`` (socket — the production
    shape; the websocket URL of capture.py:125 becomes an upstream bridge
    or a socket-speaking feed) or ``files_dir`` (text-file replay — the
    deterministic test/backfill shape). Returns the started
    ``StreamingQuery``; the caller owns ``awaitTermination``/``stop``.
    """
    if (host is None) == (files_dir is None):
        raise ValueError("exactly one of (host, port) or files_dir")
    if files_dir is not None:
        reader = spark.readStream.format("text")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        lines = reader.load(files_dir)
    else:
        lines = (spark.readStream.format("socket")
                 .option("host", host).option("port", int(port)).load())
    sink = CaptureSink(bronze_path, pair_id, min_save_count,
                       session_dir=ckpt_path)
    query = (
        lines.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt_path)
        .start()
    )
    query.capture_sink = sink  # expose for flush() on shutdown
    return query


# ===================================================== bitstamp wire-half ==
# SRC4's missing half: the live_orders_*/live_trades_* channel JSON of
# python/obadiah/bitstamp.py:27-148 parsed and routed into the
# transient_live_orders / transient_live_trades bronze shapes that the I7
# transform (sources.bitstamp.capture_transient_orders) consumes. Same
# Spark-first decomposition as the Bitfinex path above: Arrow-batched parse,
# dict-event dispatch as a filter, era as restart-safe sidecar state (the
# reference stamps era = first order event of the handler session,
# bitstamp.py:84-90 + live_orders_eras insert).

BS_PARSED_SCHEMA = (
    "kind string, event string, channel string, us long, dt_s double, "
    "amount double, price double, order_id long, order_type int, "
    "trade_id long, buy_order_id long, sell_order_id long, trade_type int, "
    "line_no long"
)

_BS_PARSED_COLS = ["kind", "event", "channel", "us", "dt_s", "amount",
                   "price", "order_id", "order_type", "trade_id",
                   "buy_order_id", "sell_order_id", "trade_type", "line_no"]

_BS_ORDER_EVENTS = ("order_created", "order_changed", "order_deleted")


def _bs_garbage(line_no: int) -> list[tuple]:
    return [("garbage", None, None, None, None, None, None, None, None,
             None, None, None, None, line_no)]


def _bs_parse_one(line: str, line_no: int) -> list[tuple]:
    """One bitstamp wire line → one normalized row; malformed lines are
    garbage, never an exception (same tolerance contract as the Bitfinex
    parser above)."""
    try:
        return _bs_parse_one_strict(line, line_no)
    except Exception:
        return _bs_garbage(line_no)


def _bs_parse_one_strict(line: str, line_no: int) -> list[tuple]:
    try:
        msg = json.loads(line)
    except (ValueError, TypeError):
        return _bs_garbage(line_no)
    if not isinstance(msg, dict) or "event" not in msg:
        return _bs_garbage(line_no)
    event = str(msg["event"])
    channel = str(msg.get("channel")) if "channel" in msg else None
    if event in _BS_ORDER_EVENTS:
        d = msg["data"]
        # bitstamp ships microtimestamp as a µs string, datetime as a
        # seconds string (bitstamp.py:52-55, 80-95); amount/price via the
        # *_str fields (the bare floats are lossy duplicates)
        return [("order", event, channel,
                 int(float(d["microtimestamp"])), float(d["datetime"]),
                 float(d["amount_str"]), float(d["price_str"]),
                 int(d["id"]), int(d["order_type"]),
                 None, None, None, None, line_no)]
    if event == "trade":
        d = msg["data"]
        return [("trade", event, channel,
                 int(float(d["microtimestamp"])), None,
                 float(d["amount_str"]), float(d["price_str"]),
                 None, None,
                 int(d["id"]), int(d["buy_order_id"]),
                 int(d["sell_order_id"]), int(d["type"]), line_no)]
    # bts:subscription_succeeded / bts:error / reconnect notices: control
    # events (bitstamp.py:126-128) — kept as rows for observability
    return [("event", event, channel, None, None, None, None, None, None,
             None, None, None, None, line_no)]


def parse_bitstamp_frames(lines: DataFrame) -> DataFrame:
    """Bitstamp wire parse (batch and streaming alike): the same
    single-pass Python lane as :func:`parse_frames`."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for line, no in zip(pdf["value"], pdf["line_no"]):
                rows.extend(_bs_parse_one(line, int(no)))
            yield pd.DataFrame(rows, columns=_BS_PARSED_COLS)

    return (lines.withColumn("line_no", F.monotonically_increasing_id())
            .mapInPandas(gen, schema=BS_PARSED_SCHEMA))


def route_bitstamp_batch(parsed: DataFrame, pair_id: int, era_us: int,
                         batch_seq: int = 0
                         ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split normalized bitstamp frames into (transient_live_orders,
    transient_live_trades, garbage) shapes.

    Dispatch is on the event name exactly like the reference handler
    (order_created/order_changed/order_deleted → live_order_event,
    trade → trade; bitstamp.py:117-124). ``era_us`` is the session era the
    sink resolved (first order event of the capture session); ``event_id``
    follows the same single-partition row_number contract as the Bitfinex
    ``route_batch`` above."""
    from pyspark.sql import Window

    lts = F.col("_lts")
    era_c = F.timestamp_micros(F.lit(int(era_us))).cast("timestamp")
    data = parsed.filter(F.col("kind").isin(["order", "trade"])).withColumn(
        "_eid",
        (F.lit(int(batch_seq) << 33)
         + F.row_number().over(Window.orderBy("line_no"))
         - F.lit(1)).cast("long"))
    orders = (
        data.filter(F.col("kind") == "order")
        .select(
            F.timestamp_micros(F.col("us")).alias("microtimestamp"),
            F.timestamp_micros((F.col("dt_s") * 1_000_000).cast("long"))
            .alias("datetime"),
            "amount", "price", "order_id",
            # order_type: truthy = sell (bitstamp.py:98 uses
            # `'sell' if data["order_type"] else 'buy'`)
            F.when(F.col("order_type") != 0, "sell").otherwise("buy")
            .alias("order_type"),
            "event",
            era_c.alias("era"),
            F.lit(pair_id).cast("int").alias("pair_id"),
            lts.alias("local_timestamp"),
            F.col("_eid").alias("event_id"),
        )
    )
    trades = (
        data.filter(F.col("kind") == "trade")
        .select(
            F.timestamp_micros(F.col("us")).alias("trade_timestamp"),
            "amount", "buy_order_id", "sell_order_id", "price",
            F.col("trade_id").alias("bitstamp_trade_id"),
            # type: truthy = sell (bitstamp.py:62)
            F.when(F.col("trade_type") != 0, "sell").otherwise("buy")
            .alias("trade_type"),
            F.lit(pair_id).cast("int").alias("pair_id"),
            lts.alias("local_timestamp"),
        )
    )
    garbage = parsed.filter(F.col("kind") == "garbage").select(
        "line_no", lts.alias("local_ts"))
    return orders, trades, garbage


class BitstampCaptureSink:
    """foreachBatch body for the bitstamp channels: era fold + routed
    parquet appends (session-offset batch_seq-keyed overwrite — idempotent
    under replay like the Bitfinex sink, and clobber-free across capture
    sessions).

    The era sidecar lives in the streaming CHECKPOINT directory, not the
    bronze table: a restart FROM the same checkpoint is the same logical
    capture session (unprocessed batches replay, no data gap) and must
    keep its era, while a NEW session (fresh checkpoint — a real
    reconnect after a gap) must open a new era exactly like the
    reference's per-connect ``live_orders_eras`` insert
    (bitstamp.py:84-90); reusing the previous era across a gap would let
    I7 splice pre-gap and post-gap events of one order_id into one
    chain."""

    def __init__(self, bronze_path: str, pair_id: int,
                 era_dir: str | None = None) -> None:
        self.bronze_path = bronze_path
        self.pair_id = pair_id
        self.era_dir = era_dir if era_dir is not None else bronze_path
        self.era_us: int | None = self._load_era()
        # same session-offset contract as CaptureSink: a fresh checkpoint
        # (new era after a gap) restarts streaming batch ids at 0 — without
        # the base its batch_seq=0..N overwrites would clobber the prior
        # era's bronze leaves
        self._seq_base = _resolve_seq_base(
            bronze_path,
            ("transient_live_orders", "transient_live_trades", "_garbage"),
            self.era_dir)

    def _era_path(self) -> str:
        return os.path.join(self.era_dir, "_era.json")

    def _load_era(self) -> int | None:
        try:
            with open(self._era_path()) as fh:
                return int(json.load(fh)["era_us"])
        except (OSError, ValueError, KeyError):
            return None

    def _save_era(self) -> None:
        os.makedirs(self.era_dir, exist_ok=True)
        with open(self._era_path(), "w") as fh:
            json.dump({"era_us": self.era_us}, fh)

    def _batch_dir(self, sub: str, batch_id: int) -> str:
        return os.path.join(self.bronze_path, sub, f"batch_seq={batch_id}")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # persist: the era probe and the three routed writes are separate
        # actions — one parse per batch, one frozen _lts (see the bitfinex
        # sink's note)
        parsed = (
            parse_bitstamp_frames(batch_df.select("value").coalesce(1))
            .withColumn("_lts", F.current_timestamp())
        ).persist()
        try:
            if self.era_us is None:
                # era = first order event of the capture session
                # (bitstamp.py:84-90); one tiny min() over the batch, only
                # until resolved
                r = parsed.filter(F.col("kind") == "order").agg(
                    F.min("us")).collect()[0][0]
                # r is None = no order event yet (acks / trades only):
                # orders are not written this batch, trades carry no era
                if r is not None:
                    self.era_us = int(r)
                    self._save_era()
            else:
                # freeze _lts before the writes (the era probe does this
                # on the unresolved path)
                parsed.count()
            batch_seq = self._seq_base + int(batch_id)
            orders, trades, garbage = route_bitstamp_batch(
                parsed, self.pair_id, self.era_us or 0,
                batch_seq=batch_seq)
            if self.era_us is not None:
                orders.write.mode("overwrite").parquet(
                    self._batch_dir("transient_live_orders", batch_seq))
            trades.write.mode("overwrite").parquet(
                self._batch_dir("transient_live_trades", batch_seq))
            garbage.write.mode("overwrite").parquet(
                self._batch_dir("_garbage", batch_seq))
        finally:
            parsed.unpersist()


def capture_bitstamp(spark: SparkSession, bronze_path: str, ckpt_path: str,
                     pair_id: int, *, host: str | None = None,
                     port: int | None = None, files_dir: str | None = None,
                     max_files_per_trigger: int | None = None):
    """SRC4 wire-half entry point: bitstamp channel JSON → transient bronze
    tables, feeding I7 (sources.bitstamp.capture_transient_orders) on
    promotion. Transport contract identical to :func:`capture`."""
    if (host is None) == (files_dir is None):
        raise ValueError("exactly one of (host, port) or files_dir")
    if files_dir is not None:
        reader = spark.readStream.format("text")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        lines = reader.load(files_dir)
    else:
        lines = (spark.readStream.format("socket")
                 .option("host", host).option("port", int(port)).load())
    sink = BitstampCaptureSink(bronze_path, pair_id, era_dir=ckpt_path)
    query = (
        lines.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt_path)
        .start()
    )
    query.capture_sink = sink
    return query
