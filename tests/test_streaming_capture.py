"""SRC1 capture-loop end-to-end: wire lines → streaming query → bronze
parquet → SRC2 episode framing, differentially checked against a driver-side
replay of the reference handler rules (bitfinex.py:28-151)."""

from __future__ import annotations

import json
import os
import socket
import socketserver
import threading
import time

import pytest

from obadiah_spark.streaming.capture import (
    capture, load_registry, parse_frames, route_batch)

BOOK_CHAN, TRADE_CHAN = 42, 17


def _wire_lines() -> list[str]:
    """A deterministic bitfinex-shaped session: conf, subscribes, book
    snapshot, incremental updates with zero-price closes, heartbeats, te/tu
    trades and a trade snapshot."""
    lines = [
        json.dumps({"event": "info", "version": 2}),
        json.dumps({"event": "conf", "status": "OK"}),
        json.dumps({"event": "subscribed", "channel": "book",
                    "chanId": BOOK_CHAN, "prec": "R0"}),
        json.dumps({"event": "subscribed", "channel": "trades",
                    "chanId": TRADE_CHAN}),
    ]
    # book snapshot: 5 resting orders
    snap = [[100 + i, 100.0 + i, (1.0 + i) * (1 if i % 2 else -1)]
            for i in range(5)]
    lines.append(json.dumps([BOOK_CHAN, snap, 1_700_000_000_000]))
    # trade snapshot: 2 historical trades
    tsnap = [[900, 1_700_000_000_500, 0.5, 101.0],
             [901, 1_700_000_000_600, -0.25, 100.5]]
    lines.append(json.dumps([TRADE_CHAN, tsnap]))
    rts = 1_700_000_001_000
    for i in range(60):
        rts += 100
        if i % 13 == 6:     # zero-price message: episode close
            lines.append(json.dumps([BOOK_CHAN, [200 + i, 0.0, 1.0], rts]))
        else:
            lines.append(json.dumps(
                [BOOK_CHAN, [200 + i, 100.0 + i % 7, 2.0], rts]))
        if i % 10 == 3:
            lines.append(json.dumps([BOOK_CHAN, "hb", rts]))
        if i % 9 == 4:      # te ignored, tu captured
            lines.append(json.dumps(
                [TRADE_CHAN, "te", [1000 + i, rts, 0.1, 100.0]]))
            lines.append(json.dumps(
                [TRADE_CHAN, "tu", [1000 + i, rts, 0.1 * (i % 3 - 1), 100.0 + i]]))
    return lines


def _expected_counts(lines: list[str]) -> tuple[int, int]:
    book = trades = 0
    for ln in lines:
        msg = json.loads(ln)
        if isinstance(msg, dict):
            continue
        chan, payload = msg[0], msg[1]
        if chan == BOOK_CHAN:
            if payload == "hb":
                continue
            book += len(payload) if isinstance(payload[0], list) else 1
        elif chan == TRADE_CHAN:
            if payload == "tu":
                trades += 1
            elif isinstance(payload, list) and isinstance(payload[0], list):
                trades += len(payload)
    return book, trades


def test_capture_files_end_to_end(spark, tmp_path):
    lines = _wire_lines()
    # three files → three micro-batches: subscribes land in batch 0, data in
    # later batches — proves the registry survives across batches
    src = tmp_path / "wire"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(lines[:4]) + "\n")
    (src / "b.txt").write_text("\n".join(lines[4:30]) + "\n")
    (src / "c.txt").write_text("\n".join(lines[30:]) + "\n")
    # the file source replays in MODIFICATION-TIME order; same-ms writes tie
    # nondeterministically, so pin the wire order explicitly
    now = time.time()
    for i, f in enumerate(["a.txt", "b.txt", "c.txt"]):
        os.utime(src / f, (now + 10 * i, now + 10 * i))
    bronze = str(tmp_path / "bronze")
    q = capture(spark, bronze, str(tmp_path / "ckpt"), pair_id=1,
                files_dir=str(src), max_files_per_trigger=1)
    try:
        deadline = time.time() + 120
        want_book, want_trades = _expected_counts(lines)
        while time.time() < deadline:
            try:
                nb = spark.read.parquet(os.path.join(bronze, "raw_book")).count()
                nt = spark.read.parquet(os.path.join(bronze, "raw_trades")).count()
                if nb >= want_book and nt >= want_trades:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        q.stop()

    book = spark.read.parquet(os.path.join(bronze, "raw_book"))
    trades = spark.read.parquet(os.path.join(bronze, "raw_trades"))
    assert book.count() == want_book
    assert trades.count() == want_trades
    assert load_registry(bronze) == {BOOK_CHAN: "book", TRADE_CHAN: "trades"}

    rows = {r.order_id: r for r in book.collect()}
    # snapshot rows flagged and stamped with the frame rts
    assert rows[100].is_snapshot and rows[104].is_snapshot
    # amounts stay SIGNED in bronze (side = sign, resolved by I1 downstream)
    assert rows[102].price == 102.0 and rows[102].amount == -3.0
    # te skipped: only tu ids present, with signed qty preserved
    tr = {r.id: r for r in trades.collect()}
    assert 900 in tr and tr[901].qty == -0.25
    assert all(r.pair_id == 1 for r in tr.values())

    # downstream: the captured stream feeds SRC2 framing unchanged — only
    # incremental messages, per (pair, channel), ordered by capture sequence
    from obadiah_spark.sources.bitstamp import frame_episodes
    import pyspark.sql.functions as F

    incr = (book.filter(~F.col("is_snapshot"))
            .select("pair_id", "channel_id", "order_id", "price", "amount",
                    F.col("exchange_ts"), F.col("local_ts"), "event_id"))
    framed = frame_episodes(incr)
    n_closes = sum(1 for i in range(60) if i % 13 == 6)
    eps = framed.select("episode_id").distinct().count()
    # closes = 5 (i in {6,19,32,45,58}); the trailing open episode is dropped
    assert eps == n_closes
    # every framed episode_timestamp is the running max of exchange_ts
    bad = framed.filter(F.col("episode_timestamp") < F.col("exchange_ts"))
    assert bad.count() == 0


def test_capture_socket_transport(spark, tmp_path):
    """The production transport: a localhost TCP server replays the wire."""
    lines = _wire_lines()
    payload = ("\n".join(lines) + "\n").encode()

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(payload)
            time.sleep(30)  # hold the connection while the query drains

    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    bronze = str(tmp_path / "bronze_sock")
    try:
        q = capture(spark, bronze, str(tmp_path / "ckpt_sock"), pair_id=1,
                    host="127.0.0.1", port=port)
        want_book, want_trades = _expected_counts(lines)
        deadline = time.time() + 90
        done = False
        try:
            while time.time() < deadline:
                try:
                    nb = spark.read.parquet(
                        os.path.join(bronze, "raw_book")).count()
                    nt = spark.read.parquet(
                        os.path.join(bronze, "raw_trades")).count()
                    if nb >= want_book and nt >= want_trades:
                        done = True
                        break
                except Exception:
                    pass
                time.sleep(1)
        finally:
            q.stop()
        if not done:
            pytest.skip("socket transport did not drain in time (CI timing)")
        assert spark.read.parquet(
            os.path.join(bronze, "raw_book")).count() == want_book
    finally:
        server.shutdown()
        server.server_close()


def test_parse_frames_classification(spark):
    lines = _wire_lines()
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    parsed = parse_frames(df).cache()
    kinds = {r.kind for r in parsed.select("kind").distinct().collect()}
    assert kinds == {"event", "data"}
    subs = parsed.filter("event = 'subscribed'").collect()
    assert {(r.chan_id, r.channel) for r in subs} == {
        (BOOK_CHAN, "book"), (TRADE_CHAN, "trades")}
    # hb and te frames are classified but carry no payload fields
    hb = parsed.filter("tag = 'hb'")
    assert hb.count() > 0 and hb.filter("f0 is not null").count() == 0
    te = parsed.filter("tag = 'te'")
    assert te.count() > 0
    # routing drops them
    import pyspark.sql.functions as F
    registry = {BOOK_CHAN: "book", TRADE_CHAN: "trades"}
    book, trades, unrouted = route_batch(
        parsed.withColumn("_lts", F.current_timestamp()), registry, pair_id=7)
    want_book, want_trades = _expected_counts(lines)
    assert book.count() == want_book
    assert trades.count() == want_trades
    assert unrouted.count() == 0
    # with an empty registry nothing routes and every data frame (except
    # hb/te noise) lands in quarantine instead of vanishing
    b0, t0, u0 = route_batch(
        parsed.withColumn("_lts", F.current_timestamp()), {}, pair_id=7)
    assert b0.count() == 0 and t0.count() == 0
    assert u0.count() == want_book + want_trades
    parsed.unpersist()


def test_parse_frames_corner_corpus_differential(spark):
    """The batched parse must reproduce the per-line Python parser
    bit-for-bit over the flat-update corner corpus (quoted rts, bool rts,
    float chan, nulls in payload, number-shaped invalid JSON)."""
    from obadiah_spark.streaming.capture import _parse_one

    lines = [
        '[17, [100, 99.5, 2.0], 1700000000000]',     # canonical update
        '[17,[200,0.0,1.0],1700000000001]',           # no spaces
        '[ -3 , [ 1e3 , -2.5E-2 , 7 ] ]',             # signs/exponents, no rts
        '[17, [1,2,3,4,5], 12]',                      # oversized payload
        '[17, [], 12]',                               # empty payload
        '[17, [1,2]]',                                # short payload
        '[17, [1,null,3], 12]',                       # null member -> garbage
        '[29, "tu", [5, 1700000000000, 0.25, 100.0]]',
        '[17, "hb", 5]',
        '{"event":"subscribed","chanId":4,"channel":"book"}',
        '[17, [[1,2,3],[4,5,6]], 99]',                # snapshot
        '[42, [1, "abc", 2.0], 123]',                 # quoted member
        'not json',
        '[17, [1,2,3], "123"]',   # quoted rts: Python says rts None
        '[17, [1,2,3], true]',    # bool rts: Python says rts 1
        '[17.9, [1,2,3], 12]',    # float chan: Python truncates to 17
        '[17, [1,2,,3], 12]',     # number-shaped but invalid JSON
    ]
    df = (spark.createDataFrame([(ln,) for ln in lines], "value string")
          .coalesce(1))  # single partition => line_no is 0..n-1
    exp = []
    for no, ln in enumerate(lines):
        exp.extend(_parse_one(ln, no))
    exp = sorted(exp, key=repr)
    assert sorted((tuple(r) for r in parse_frames(df).collect()),
                  key=repr) == exp


def test_parse_bitstamp_frames_corner_corpus_differential(spark):
    """Same contract for the bitstamp dict shapes, over the corpus of
    non-string event/channel tokens, quoted ids and missing keys."""
    from obadiah_spark.streaming.capture import (
        _bs_parse_one, parse_bitstamp_frames)

    d_order = {"microtimestamp": "1700000000123456", "datetime":
               "1700000000.12", "amount_str": "0.25", "price_str":
               "30000.5", "id": 42, "order_type": 0}
    d_trade = {"microtimestamp": "1700000000123457", "amount_str": "0.1",
               "price_str": "30001.0", "id": 7, "buy_order_id": 42,
               "sell_order_id": 43, "type": 1}
    lines = [
        json.dumps({"event": "order_created",
                    "channel": "live_orders_btcusd", "data": d_order}),
        json.dumps({"event": "order_deleted", "channel": "c",
                    "data": {**d_order, "id": "42"}}),   # quoted id
        json.dumps({"event": "trade", "channel": "live_trades_btcusd",
                    "data": d_trade}),
        json.dumps({"event": "bts:subscription_succeeded",
                    "channel": "live_orders_btcusd", "data": {}}),
        json.dumps({"event": "bts:request_reconnect"}),  # no channel key
        '{"event":true}',                   # bool event: str() -> 'True'
        '{"event":null}',                   # null event
        '{"event":5e2}',                    # numeric event: str() -> '500.0'
        # top-level non-string event beside a nested quoted "event" key
        '{"event":5e2,"data":{"event":"x"}}',
        '{"event":true,"data":{"event":"order_created"}}',
        # nested unquoted event inside an otherwise regular trade
        json.dumps({"event": "trade", "channel": "live_trades_btcusd",
                    "data": {**d_trade, "event": 1}}),
        '{"no_event_key":1}',
        'garbage',
        json.dumps({"event": "trade", "channel": None, "data": d_trade}),
        json.dumps({"event": "order_changed", "channel": "c",
                    "data": {**d_order, "id": "12.5"}}),  # int() raises
        json.dumps({"event": "order_changed", "channel": "c",
                    "data": {**d_order, "id": True}}),    # int(True) == 1
        json.dumps({"event": "order_created", "channel": "c"}),  # no data
    ]
    df = (spark.createDataFrame([(ln,) for ln in lines], "value string")
          .coalesce(1))
    exp = []
    for no, ln in enumerate(lines):
        exp.extend(_bs_parse_one(ln, no))
    exp = sorted(exp, key=repr)
    assert sorted((tuple(r) for r in parse_bitstamp_frames(df).collect()),
                  key=repr) == exp


def test_parse_tolerance_malformed_frames(spark):
    """One bad wire line must classify as garbage, never raise (the
    capture query's tolerance contract)."""
    from obadiah_spark.streaming.capture import _parse_one

    bad = [
        '[17, "tu"]',                       # short tu: no entry member
        '[42, [1, "abc", 2.0], 123]',       # non-numeric payload member
        '{"event": "subscribed", "chanId": "x"}',  # non-integer chanId
        '[42, {"a": 1}]',                   # dict payload
        'not json at all',
        '[42, [[1, 2, "z"]], 5]',           # snapshot with bad member
    ]
    for i, ln in enumerate(bad):
        rows = _parse_one(ln, i)
        assert rows, ln
        assert all(r[0] == "garbage" for r in rows), ln
    # and via the vectorized path: the whole frame parses without error
    df = spark.createDataFrame([(ln,) for ln in bad], "value string")
    from obadiah_spark.streaming.capture import parse_frames
    out = parse_frames(df)
    assert out.count() == len(bad)
    assert out.filter("kind <> 'garbage'").count() == 0


def test_flush_all_none_column_keeps_schema(spark, tmp_path):
    """Buffered flush with an all-None exchange_ts must write the declared
    timestamp type, not drift to pandas-inferred object/float."""
    import pandas as pd
    from obadiah_spark.streaming.capture import BOOK_COLS, CaptureSink

    sink = CaptureSink(str(tmp_path / "bronze"), pair_id=1, min_save_count=10)
    sink._spark = spark
    pdf = pd.DataFrame(
        [[None, 7, 100.0, 1.5, 1, pd.Timestamp("2024-01-01"), 42, False, 0],
         [None, 8, 101.0, -2.0, 1, pd.Timestamp("2024-01-01"), 42, False, 1]],
        columns=BOOK_COLS)
    sink._book_buf.append(pdf)
    sink._buffered = len(pdf)
    sink.flush()
    out = spark.read.parquet(str(tmp_path / "bronze" / "raw_book"))
    field = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert field["exchange_ts"] == "timestamp"
    assert field["order_id"] == "bigint"
    assert out.count() == 2


def test_capture_replayed_batch_idempotent(spark, tmp_path):
    """Re-running the same foreachBatch batch id must not duplicate rows
    (the at-least-once replay case for min_save_count=0)."""
    from obadiah_spark.streaming.capture import CaptureSink

    lines = _wire_lines()
    sink = CaptureSink(str(tmp_path / "bronze"), pair_id=1)
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    sink(df, 0)
    n1 = spark.read.parquet(str(tmp_path / "bronze" / "raw_book")).count()
    sink(df, 0)  # replay of batch 0
    book = spark.read.parquet(str(tmp_path / "bronze" / "raw_book"))
    assert book.count() == n1
    # and event_ids stay unique across a genuinely-new batch
    sink(df, 1)
    ids = book.unionByName(
        spark.read.parquet(str(tmp_path / "bronze" / "raw_book"))).select(
        "event_id").distinct()
    full = spark.read.parquet(str(tmp_path / "bronze" / "raw_book"))
    assert full.select("event_id").distinct().count() == full.count()


def test_capture_fresh_session_never_clobbers_bronze(spark, tmp_path):
    """A NEW capture session (fresh checkpoint, batch ids restart at 0)
    into an existing bronze path must not overwrite earlier sessions'
    leaves, and event_ids must stay globally unique; a restart FROM the
    same checkpoint must remain idempotent."""
    from obadiah_spark.streaming.capture import CaptureSink

    lines = _wire_lines()
    bronze = str(tmp_path / "bronze")
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")

    s1 = CaptureSink(bronze, pair_id=1, session_dir=str(tmp_path / "ck1"))
    s1(df, 0)
    per_batch = spark.read.parquet(bronze + "/raw_book").count()
    s1(df, 1)
    assert spark.read.parquet(bronze + "/raw_book").count() == 2 * per_batch

    # restart from the SAME checkpoint: replayed batch 1 overwrites its
    # own leaf (idempotent), nothing duplicates
    s1r = CaptureSink(bronze, pair_id=1, session_dir=str(tmp_path / "ck1"))
    s1r(df, 1)
    assert spark.read.parquet(bronze + "/raw_book").count() == 2 * per_batch

    # fresh checkpoint: batch ids restart at 0 but the session base moves
    # past every existing leaf — prior bronze intact, event_ids disjoint
    s2 = CaptureSink(bronze, pair_id=1, session_dir=str(tmp_path / "ck2"))
    s2(df, 0)
    book = spark.read.parquet(bronze + "/raw_book")
    assert book.count() == 3 * per_batch
    assert book.select("event_id").distinct().count() == book.count()


def test_flush_counter_survives_restart(spark, tmp_path):
    """flush() of a restarted session must append a NEW leaf, not
    overwrite the previous session's first flush (those batches are
    committed in the old checkpoint and will never replay)."""
    from obadiah_spark.streaming.capture import CaptureSink

    lines = _wire_lines()
    bronze = str(tmp_path / "bronze")
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")

    s1 = CaptureSink(bronze, pair_id=1, min_save_count=10**9,
                     session_dir=str(tmp_path / "ck1"))
    s1(df, 0)
    s1.flush()
    n1 = spark.read.parquet(bronze + "/raw_book").count()
    assert n1 > 0

    # process restart with a fresh checkpoint: new sink, same bronze
    s2 = CaptureSink(bronze, pair_id=1, min_save_count=10**9,
                     session_dir=str(tmp_path / "ck2"))
    s2(df, 0)
    s2.flush()
    book = spark.read.parquet(bronze + "/raw_book")
    assert book.count() == 2 * n1
    assert book.select("event_id").distinct().count() == book.count()
