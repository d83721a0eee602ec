"""SRC7 CSV reader/writer + I11 promotion semantics."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def test_csv_reader_parses_infinity_and_null(spark):
    """Hand-built CSV exercising 'infinity', '-infinity' and 'NULL' text
    (reference reader: db/python2/obadiah_db/orderbook.py:43-67)."""
    from obadiah_spark.sources.csv_io import CSV_COLS, read_level3_csv

    d = tempfile.mkdtemp(prefix="l3csv_hand_")
    rows = [
        # chained: finite next pointer
        "2024-01-01 00:01:00,7,1,b,99.5,1.25,NULL,2024-01-01 00:02:00,2,1,1,"
        "2024-01-01 00:00:59.000001,2024-01-01 00:01:00,1,2024-01-01 00:00:00,0",
        # alive: rests forever
        "2024-01-01 00:02:00,7,2,b,99.5,1.0,0.25,infinity,NULL,1,1,"
        "2024-01-01 00:01:59.5,2024-01-01 00:01:00,1,2024-01-01 00:00:00,0",
        # deleted: removed at this event
        "2024-01-01 00:03:00,8,1,s,100.5,2.0,NULL,-infinity,NULL,1,1,"
        "2024-01-01 00:02:59,2024-01-01 00:03:00,1,2024-01-01 00:00:00,1",
    ]
    with open(os.path.join(d, "part-0.csv"), "w") as f:
        f.write(",".join(CSV_COLS) + "\n")
        f.write("\n".join(rows) + "\n")
    out = {r.order_id * 10 + r.event_no: r for r in read_level3_csv(spark, d).collect()}
    chained, alive, deleted = out[71], out[72], out[81]
    assert chained.chain_state == "chained"
    assert str(chained.next_microtimestamp) == "2024-01-01 00:02:00"
    assert chained.next_event_no == 2 and chained.fill is None
    assert alive.chain_state == "alive" and alive.next_microtimestamp is None
    assert alive.fill == 0.25 and alive.life_no == 0
    assert deleted.chain_state == "deleted" and deleted.next_microtimestamp is None
    assert deleted.next_event_no is None and deleted.life_no == 1
    # µs precision survives
    assert chained.local_timestamp.microsecond == 1


def test_csv_roundtrip_identity(level3):
    """writer ∘ reader = identity on the synthetic log (value-exact)."""
    from obadiah_spark.sources.csv_io import CSV_COLS, csv_roundtrip

    src = level3.filter(F.col("order_id") <= 24)  # small slice, all branches
    back = csv_roundtrip(src, tempfile.mkdtemp(prefix="l3csv_rt_"))
    cols = CSV_COLS + ["chain_state"]
    a = sorted(map(tuple, src.select(*cols).collect()))
    b = sorted(map(tuple, back.select(*cols).collect()))
    assert a == b


@pytest.fixture(scope="module")
def staged(spark, level3):
    from obadiah_spark.operators.promote import STAGED_TRADES_SQL

    return spark.sql(STAGED_TRADES_SQL)


def test_move_events_completeness(spark, level3, staged):
    """Alive-at-end chains and half-matched-trade chains stay incomplete;
    deleted chains with fully matched trades promote."""
    from obadiah_spark.operators.promote import move_events

    start, end = "2024-01-09 00:00:00", "2024-01-13 00:00:00"
    out = move_events(level3, staged, start, end).cache()
    # every event of a chain agrees on is_completed
    per_chain = out.groupBy("pair_id", "order_id").agg(
        F.countDistinct("is_completed").alias("n"))
    assert per_chain.filter(F.col("n") > 1).count() == 0
    # completed ⇒ the chain's last event is a delete (window end exceeds the
    # in-window horizon here, so 'chained'-past-end can't occur)
    last = out.withColumn(
        "rn", F.row_number().over(
            W.partitionBy("pair_id", "order_id")
            .orderBy(F.desc("microtimestamp"), F.desc("event_no")))
    ).filter("rn = 1")
    bad = last.filter(F.col("is_completed") & (F.col("chain_state") != "deleted"))
    assert bad.count() == 0
    # half-matched trades (exchange_trade_id % 3 = 0) force incompleteness
    half = staged.filter(
        ~F.col("fully_matched")
        & (F.col("microtimestamp") >= F.lit(start).cast("timestamp"))
        & (F.col("microtimestamp") <= F.lit(end).cast("timestamp"))
    ).select("pair_id", "order_id").distinct()
    leaked = out.join(half, ["pair_id", "order_id"]).filter("is_completed")
    assert leaked.count() == 0
    # non-vacuous: both outcomes occur
    flags = {r.is_completed for r in out.select("is_completed").distinct().collect()}
    assert flags == {True, False}


def test_move_events_clips_pointers(level3, staged):
    """A forward pointer beyond the window end becomes alive/NULL (the
    reference writes 'infinity', db/bitstamp_schema.sql:1427)."""
    from obadiah_spark.operators.promote import move_events

    start, end = "2024-01-09 00:00:00", "2024-01-10 00:00:00"
    out = move_events(level3, staged, start, end)
    end_c = F.lit(end).cast("timestamp")
    assert out.filter(F.col("next_microtimestamp") > end_c).count() == 0
    assert out.filter(
        (F.col("chain_state") == "chained") & F.col("next_microtimestamp").isNull()
    ).count() == 0


def _replay_framing_state_machine(raw):
    """Literal replay of the capture client's accumulate/close loop
    (reference python/obadiah/bitfinex.py:64-76), incl. its GLOBAL
    episode_rts running max (never reset per episode)."""
    started = False
    acc: list = []
    episode_rts = None
    expect: dict[int, tuple[int, object]] = {}  # event_id -> (episode_id, ep_ts)
    ep_no = 0
    for r in raw:
        if r.price == 0:
            if started:
                for m in acc:
                    expect[m.event_id] = (ep_no, episode_rts)
                ep_no += 1
                started = False
                acc = []
        else:
            started = True
        acc.append(r)
        if episode_rts is None or r.exchange_ts > episode_rts:
            episode_rts = r.exchange_ts
    return expect


def _assert_framing_matches(spark, raw_df):
    from obadiah_spark.sources.bitstamp import frame_episodes

    # the capture client runs ONE state machine per (pair, channel) stream —
    # replay each stream independently (the fabric is multi-pair/channel)
    raw = raw_df.orderBy("local_ts", "event_id").collect()
    streams: dict[tuple, list] = {}
    for r in raw:
        streams.setdefault((r.pair_id, r.channel_id), []).append(r)
    expect: dict[int, tuple] = {}
    for rows in streams.values():
        expect.update(_replay_framing_state_machine(rows))
    got = {r.event_id: (r.episode_id, r.episode_timestamp)
           for r in frame_episodes(raw_df).collect()}
    assert got.keys() == expect.keys()  # incomplete tail dropped identically
    assert all(got[k][0] == expect[k][0] for k in expect)
    assert all(got[k][1] == expect[k][1] for k in expect)


def test_episode_framing_equals_reference_state_machine(spark):
    """SRC2: the one-lag window form must equal a literal replay of the
    capture client's accumulate/close state machine: price==0 closes the
    accumulated episode and itself starts the next; the trailing
    incomplete episode is not saved."""
    from obadiah_spark.sources.bitstamp import BFX_RAW_SQL

    _assert_framing_matches(spark, spark.sql(BFX_RAW_SQL))


def test_episode_framing_non_monotone_exchange_ts(spark):
    """episode_timestamp is the client's GLOBAL running max — a later
    episode whose messages all carry earlier exchange timestamps inherits
    the earlier episode's maximum (out-of-order feeds, the case the fabric
    cannot produce)."""
    from datetime import datetime

    rows = []
    # episode 0: exchange_ts up to 00:09; closer at idx 4
    # episode 1: exchange_ts all BEFORE 00:09 -> ep_ts must stay 00:09
    seq = [(0, 1, 100.0), (1, 5, 101.0), (2, 9, 100.5), (3, 2, 0.0),
           (4, 3, 100.2), (5, 4, 0.0), (6, 6, 100.0)]
    for i, (eid, ts_min, price) in enumerate(seq):
        rows.append((eid, datetime(2024, 1, 1, 0, ts_min),
                     datetime(2024, 1, 1, 1, i), 1, 1, eid + 1, price, 1.0))
    raw = spark.createDataFrame(
        rows,
        "event_id long, exchange_ts timestamp, local_ts timestamp, "
        "pair_id int, channel_id int, order_id long, price double, "
        "amount double")
    _assert_framing_matches(spark, raw)


def test_silver_layout_roundtrip_and_pruning(spark, level3, tmp_path):
    """SURVEY §1.3: the partitioned silver layout must round-trip the level3
    rows exactly AND prune partitions — a (pair, side, month) filter shows
    PartitionFilters in the scan instead of reading every directory."""
    from obadiah_spark.sources.silver import read_level3, write_level3
    from tools.verify_local import compare

    path = str(tmp_path / "level3_silver")
    write_level3(level3.drop("event_id"), path)
    back = read_level3(spark, path)

    cols = sorted(c for c in level3.columns if c != "event_id")
    assert sorted(back.columns) == cols
    assert not compare("silver roundtrip",
                       back.select(*cols).toPandas(),
                       level3.select(*cols).toPandas())

    pruned = back.filter("pair_id = 1 AND side = 'b'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "pair_id" in plan.split("PartitionFilters")[1][:200]


def test_checkpoint_silver_roundtrip_pruning_and_probe(spark, level3, tmp_path):
    """VERDICT r4 #1: the book-checkpoint silver table must (a) round-trip
    the derived checkpoints exactly, (b) prune boundary partitions on an
    at_ts probe (PartitionFilters on boundary_us), and (c) answer the
    point-in-time snapshot identically to the full-history scan when read
    back from parquet."""
    from obadiah_spark.fold import book_checkpoints
    from obadiah_spark.operators.order_book import snapshot, snapshot_from_silver
    from obadiah_spark.sources.silver import (
        read_checkpoints, write_checkpoints, write_era_registry)
    from tools.verify_local import compare

    derived = book_checkpoints(level3, frequency_s=86400, use_cache=False)
    path = str(tmp_path / "ckpt_silver")
    write_checkpoints(derived, path)
    back = read_checkpoints(spark, path)

    cols = sorted(derived.columns)
    assert sorted(back.columns) == cols
    assert not compare("ckpt silver roundtrip",
                       back.select(*cols).toPandas(),
                       derived.select(*cols).toPandas())

    at = "2024-01-17 12:00:00"
    pruned = read_checkpoints(spark, path, at_ts=at)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "boundary_us" in plan.split("PartitionFilters")[1][:300]

    # the production literal-filter probe (driver-side catalog metadata)
    write_era_registry(level3, path)
    for probe_at in (at, "2024-01-17 00:00:00", "2024-01-01 00:00:30"):
        fast = snapshot_from_silver(level3, path, probe_at)
        ref = snapshot(level3, probe_at).drop("event_id")
        keys = sorted(set(fast.columns) & set(ref.columns))
        assert not compare(f"silver literal probe @ {probe_at}",
                           fast.select(*keys).toPandas(),
                           ref.select(*keys).toPandas())


def test_book_checkpoints_fresh_after_in_place_rewrite(spark, level3,
                                                       tmp_path, caplog):
    """A silver level3 table rewritten in place reads back PLAN-EQUAL to
    the old one, so neither the checkpoint cache nor Spark's own cache may
    answer for it: with and without ``use_cache`` the checkpoints must be
    derived from the files as they are now (and the dropped entry is
    logged)."""
    import logging
    import shutil

    from pyspark.sql import functions as F

    from obadiah_spark.fold import book_checkpoints
    from obadiah_spark.sources.silver import read_level3, write_level3
    from tools.verify_local import compare

    path = str(tmp_path / "l3")
    write_level3(level3, path)
    old = read_level3(spark, path)
    assert book_checkpoints(old, 86400).count() > 0

    even = level3.filter(F.col("order_id") % 2 == 0)
    write_level3(even, str(tmp_path / "l3_even"))
    shutil.rmtree(path)
    shutil.move(str(tmp_path / "l3_even"), path)
    new = read_level3(spark, path)
    assert new.sameSemantics(old)

    want = book_checkpoints(even, 86400, use_cache=False)
    cols = sorted(want.columns)
    want = want.select(*cols).toPandas()
    assert 0 < len(want)
    for use_cache in (False, True):
        with caplog.at_level(logging.DEBUG, logger="obadiah_spark.fold"):
            got = book_checkpoints(new, 86400, use_cache=use_cache)
        assert not compare(f"checkpoints after rewrite, use_cache={use_cache}",
                           got.select(*cols).toPandas(), want), use_cache
    logged = [r.getMessage() for r in caplog.records]
    assert any("evict (stale)" in m for m in logged), logged
    assert any("miss" in m for m in logged), logged


def test_capture_raw_book_reference_branches(spark):
    """I1 hand fixture: dedup keep-latest, side from first amount sign,
    delete carries previous price/amount, reincarnation restarts event_no,
    price chains, lonely deletion dropped
    (db/bitfinex_schema.sql:374-458)."""
    from obadiah_spark.sources.bitstamp import capture_raw_book_events

    T = "2024-01-01 00:00:{:02d}"
    rows = [
        # (order, episode_s, exch_s, local_s, event_id, price, amount)
        (1, 10, 9, 9, 1, 100.00, 2.0),       # A create (bid: amount > 0)
        (1, 20, 18, 18, 2, 100.00, 1.75),    # A dup: superseded within ep
        (1, 20, 19, 19, 3, 100.00, 1.5),     # A change kept (fill 0.5)
        (1, 30, 29, 29, 4, 0.0, 1.0),        # A delete (price==0)
        (1, 40, 39, 39, 5, 100.02, 3.0),     # A resurrects → life 1
        (2, 10, 9, 9, 6, 100.10, -2.0),      # B create (ask: amount < 0)
        (2, 20, 19, 19, 7, 100.12, -2.0),    # B pacman price change
        (3, 10, 9, 9, 8, 0.0, 1.0),          # C lonely delete → dropped
    ]
    raw = spark.createDataFrame(
        [(o, T.format(ep), T.format(e), T.format(l), i, p, a)
         for o, ep, e, l, i, p, a in rows],
        "order_id long, episode_timestamp string, exchange_ts string, "
        "local_ts string, event_id long, price double, amount double",
    ).selectExpr(
        "CAST(1 AS INT) AS pair_id", "CAST(1 AS INT) AS channel_id",
        "order_id", "CAST(episode_timestamp AS TIMESTAMP) episode_timestamp",
        "CAST(exchange_ts AS TIMESTAMP) exchange_ts",
        "CAST(local_ts AS TIMESTAMP) local_ts", "event_id", "price", "amount",
        "CAST('2024-01-01' AS TIMESTAMP) AS era",
    )
    pairs = spark.createDataFrame([(1, 2, 8)], "pair_id int, r0 int, fmu int")
    out = {(r.order_id, r.event_no, r.life_no): r
           for r in capture_raw_book_events(raw, pairs).collect()}

    assert len(out) == 6                      # 8 in − 1 dup − 1 lonely delete
    a1 = out[(1, 1, 0)]
    assert a1.side == "b" and a1.fill is None and a1.chain_state == "chained"
    a2 = out[(1, 2, 0)]
    assert a2.amount == 1.5 and a2.fill == 0.5          # dup superseded
    a3 = out[(1, 3, 0)]                                  # the delete
    assert a3.chain_state == "deleted"
    assert a3.price == 100.00 and a3.amount == 1.5       # carried from prev
    a4 = out[(1, 1, 1)]                                  # reincarnation
    assert a4.chain_state == "alive" and a4.price == 100.02
    b1, b2 = out[(2, 1, 0)], out[(2, 2, 0)]
    assert b1.side == "s" == b2.side                     # sign of first amount
    assert (b2.price_microtimestamp, b2.price_event_no) == (
        b2.microtimestamp, 2)                            # new price chain
    assert (b1.price_microtimestamp, b1.price_event_no) == (
        b1.microtimestamp, 1)
    assert (3, 1, 0) not in out                          # lonely delete


def test_capture_raw_book_feeds_order_book(spark):
    """Lifecycle integration: framed fabric → I1 → point-in-time snapshot
    is a consistent book (both sides, no per-order duplicates)."""
    from obadiah_spark.operators.order_book import snapshot
    from obadiah_spark.sources.bitstamp import (
        BFX_I1_RAW_SQL, capture_raw_book_events, frame_episodes)
    from obadiah_spark.synth import PAIRS_SQL

    framed = frame_episodes(spark.sql(BFX_I1_RAW_SQL)).withColumn(
        "era", F.date_trunc("week", F.col("episode_timestamp")))
    l3 = capture_raw_book_events(framed, spark.sql(PAIRS_SQL)).withColumn(
        "exchange_id", F.lit(1).cast("int"))
    mid = l3.agg(F.max("microtimestamp")).first()[0]
    book = snapshot(l3, mid).cache()
    per_order = (book.groupBy("pair_id", "order_id").count()
                 .filter("count > 1").count())
    assert per_order == 0
    sides = {r.side for r in book.select("side").distinct().collect()}
    assert sides == {"b", "s"}
    assert book.filter("chain_state = 'deleted'").count() == 0
    book.unpersist()


def test_capture_raw_book_randomized_invariants(spark):
    """Seeded randomized stream → every chain invariant the reference's FK
    constraints would enforce (db/obanalytics_schema.sql:146-151,412-416):
    dense event_no per life, forward pointers hit the next event exactly,
    fills are amount deltas, deletes carry the previous payload, lives
    split exactly at deletes, side is the first amount's sign, price
    pointers mark maximal equal-price runs."""
    import numpy as np
    import pandas as pd

    from obadiah_spark.sources.bitstamp import capture_raw_book_events

    rng = np.random.RandomState(7)
    n = 600
    base = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(n):
        order = int(rng.randint(1, 13))
        is_del = bool(rng.rand() < 0.15)
        price = 0.0 if is_del else float(100 + rng.randint(0, 5)) + 0.01 * order
        amount = (1 if order % 2 else -1) * float(rng.randint(1, 9)) / 4
        ep = i // 7  # 7 messages per episode
        rows.append((1, 1, order,
                     base + pd.Timedelta(seconds=10 * ep),
                     base + pd.Timedelta(seconds=10 * ep + (i % 7)),
                     base + pd.Timedelta(seconds=10 * ep + (i % 7)),
                     i, price, amount))
    raw = spark.createDataFrame(
        pd.DataFrame(rows, columns=[
            "pair_id", "channel_id", "order_id", "episode_timestamp",
            "exchange_ts", "local_ts", "event_id", "price", "amount"]),
    ).withColumn("era", F.lit("2024-01-01").cast("timestamp"))
    pairs = spark.createDataFrame([(1, 2, 8)], "pair_id int, r0 int, fmu int")
    out = capture_raw_book_events(raw, pairs).toPandas()

    # one row per (episode, order): the keep-latest dedup
    assert not out.duplicated(["microtimestamp", "order_id"]).any()
    for (_, o, life), g in out.groupby(["era", "order_id", "life_no"]):
        g = g.sort_values("event_no").reset_index(drop=True)
        assert list(g.event_no) == list(range(1, len(g) + 1))  # dense
        assert (g.side == g.side.iloc[0]).all()
        deletes = g.chain_state == "deleted"
        assert not deletes.iloc[:-1].any()   # a delete ends the life
        for k in range(len(g) - 1):
            assert g.next_microtimestamp[k] == g.microtimestamp[k + 1]
            assert g.next_event_no[k] == g.event_no[k + 1]
        last = g.iloc[-1]
        assert pd.isna(last.next_microtimestamp)
        assert last.chain_state in ("alive", "deleted")
        for k in range(1, len(g)):
            if g.chain_state[k] == "deleted":
                assert g.price[k] == g.price[k - 1]
                assert g.amount[k] == g.amount[k - 1]
                assert pd.isna(g.fill[k])
            else:
                assert abs(g.fill[k] - (g.amount[k - 1] - g.amount[k])) < 1e-9
        # price pointers: first row of each maximal equal-price run
        run_start = g.microtimestamp[0]
        run_eno = g.event_no[0]
        for k in range(len(g)):
            if (k > 0 and g.price[k] != g.price[k - 1]
                    and g.chain_state[k] != "deleted"):
                run_start, run_eno = g.microtimestamp[k], g.event_no[k]
            assert g.price_microtimestamp[k] == run_start
            assert g.price_event_no[k] == run_eno


def test_assign_eras_by_gap(spark):
    """Era opens on episode gaps > threshold, per pair; chains fed into I1
    then cannot span an era boundary."""
    import pandas as pd

    from obadiah_spark.sources.bitstamp import (
        assign_eras_by_gap, capture_raw_book_events)

    base = pd.Timestamp("2024-01-01")
    rows = []
    # pair 1: episodes at 0s,1s,2s then a 10s gap, then 13s,14s
    for i, off in enumerate([0, 1, 2, 12, 13, 14]):
        rows.append((1, 1, 5, base + pd.Timedelta(seconds=off),
                     base + pd.Timedelta(seconds=off),
                     base + pd.Timedelta(seconds=off), i, 100.0, 1.0))
    # pair 2: no gaps
    for i, off in enumerate([0, 1, 2, 3]):
        rows.append((2, 1, 6, base + pd.Timedelta(seconds=off),
                     base + pd.Timedelta(seconds=off),
                     base + pd.Timedelta(seconds=off), 100 + i, 200.0, -1.0))
    framed = spark.createDataFrame(pd.DataFrame(rows, columns=[
        "pair_id", "channel_id", "order_id", "episode_timestamp",
        "exchange_ts", "local_ts", "event_id", "price", "amount"]))
    out = assign_eras_by_gap(framed, threshold_s=2.0)
    eras = {(r.pair_id, r.episode_timestamp.second): r.era.second
            for r in out.collect()}
    assert eras[(1, 0)] == eras[(1, 1)] == eras[(1, 2)] == 0
    assert eras[(1, 12)] == eras[(1, 13)] == eras[(1, 14)] == 12
    assert all(eras[(2, s)] == 0 for s in (0, 1, 2, 3))

    # chains restart at the era boundary: order 5's events split 3 + 3
    pairs = spark.createDataFrame([(1, 2, 8), (2, 2, 8)],
                                  "pair_id int, r0 int, fmu int")
    l3 = capture_raw_book_events(out, pairs)
    counts = {(r.era.second, r.event_no) for r in
              l3.filter("order_id = 5").collect()}
    assert counts == {(0, 1), (0, 2), (0, 3), (12, 1), (12, 2), (12, 3)}
