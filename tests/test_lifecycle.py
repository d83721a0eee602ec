"""Incremental matching lifecycle (VERDICT r6 task #4 / r7 task #4):
``incremental_match`` must equal the one-shot batch matchers exactly, and
so must the union of its steps over any cut of the frame — including runs
and contested events straddling a cut — be idempotent on replay, and
cover empty stretches and long backlogs.

The feed is hand-crafted (the sf0.001 fabric has an empty ``matches``)
so every boundary case is actually present: an event contested by trades
on both sides of a chunk cut, a sum-of-fills run straddling a cut (the
group must be kept atomically by its LAST member's timestamp), and
trades inside the 2-minute delay tail that must stay unmatched."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from obadiah_spark.operators.lifecycle import (
    DELAY_US,
    incremental_match,
    incremental_match_step,
)
from obadiah_spark.operators.matching import (
    match_price_and_fill_exact,
    match_sum_of_fills,
)

ERA = datetime(2024, 1, 10)
CUT_US = 600 * 1_000_000  # 10-min cuts for the test feed


def _ts(sec: float) -> datetime:
    return ERA + timedelta(seconds=sec)


# (trade_id, t_sec, price, fill, origination)
TRADES = [
    (1, 0.0, 100.0, 1.0, "b"),      # chunk 1 single
    (2, 300.0, 101.0, 1.0, "s"),    # chunk 1 single
    # contested event at the 600 s cut: 3 (earlier) must win, 4 stays
    # unmatched — both candidates of the single event at 600.5
    (3, 599.7, 200.0, 2.0, "b"),
    (4, 600.3, 200.0, 2.0, "b"),
    # sum-of-fills run inside chunk 2 (no single event matches 0.25/0.75)
    (5, 700.0, 300.0, 0.25, "b"),
    (6, 700.4, 300.0, 0.75, "b"),
    (7, 900.0, 102.0, 1.0, "b"),    # chunk 2 single
    # sum-of-fills run straddling the 1200 s cut; group_ts = 1200.2 so
    # chunk 3 owns the WHOLE group, member 8 (1199.8) included
    (8, 1199.8, 310.0, 0.5, "s"),
    (9, 1200.2, 310.0, 0.5, "s"),
    (10, 1500.0, 103.0, 1.0, "s"),  # chunk 3 single
    (11, 2100.0, 104.0, 1.0, "b"),  # chunk 4 single
    # delay tail: newest trade is 2400 s, horizon = 2280 s — both below
    # have matching events but must stay unmatched
    (12, 2330.0, 400.0, 1.0, "b"),
    (13, 2400.0, 401.0, 1.0, "s"),
]

# (order_id, t_sec, side, price, fill)
EVENTS = [
    (1001, 0.5, "s", 100.0, 1.0),
    (1002, 300.5, "b", 101.0, 1.0),
    (1003, 600.5, "s", 200.0, 2.0),   # contested by trades 3 and 4
    (1004, 700.9, "s", 300.0, 1.0),   # sum of fills of trades 5+6
    (1005, 900.5, "s", 102.0, 1.0),
    (1006, 1200.7, "b", 310.0, 1.0),  # sum of fills of trades 8+9
    (1007, 1500.5, "b", 103.0, 1.0),
    (1008, 2100.5, "s", 104.0, 1.0),
    (1009, 2330.5, "s", 400.0, 1.0),  # in the delay tail
]


@pytest.fixture(scope="module")
def feed(spark):
    trades = spark.createDataFrame(
        [(1, ERA, _ts(t), p, f, o, tid) for tid, t, p, f, o in TRADES],
        "pair_id int, era timestamp, trade_microtimestamp timestamp, "
        "price double, fill double, origination string, "
        "exchange_trade_id bigint",
    )
    l3 = spark.createDataFrame(
        [(1, ERA, _ts(t), oid, 1, s, p, f) for oid, t, s, p, f in EVENTS],
        "pair_id int, era timestamp, microtimestamp timestamp, "
        "order_id bigint, event_no int, side string, price double, "
        "fill double",
    )
    return l3.cache(), trades.cache()


def _one_shot(l3, trades, hi_us):
    """The one-shot comparator built from the public matchers: I5 over
    everything kept to the horizon, I6 on the I5 residual with groups
    bounded by group_ts (exactly incremental_match's claimed semantics)."""
    from pyspark.sql.window import Window as W

    i5 = match_price_and_fill_exact(l3, trades)
    i5_keep = i5.filter(F.unix_micros("trade_microtimestamp") <= hi_us)
    residual = trades.join(
        i5.select("pair_id", "exchange_trade_id").distinct(),
        ["pair_id", "exchange_trade_id"], "left_anti")
    i6 = match_sum_of_fills(l3, residual)
    w = W.partitionBy("pair_id", "order_id", "event_no",
                      "event_microtimestamp")
    i6_keep = (
        i6.withColumn("_gts", F.max("trade_microtimestamp").over(w))
        .filter(F.unix_micros("_gts") <= hi_us)
    )
    a = {(r.exchange_trade_id, r.order_id, r.event_no, "fill_exact")
         for r in i5_keep.collect()}
    b = {(r.exchange_trade_id, r.order_id, r.event_no, "sum_of_fills")
         for r in i6_keep.collect()}
    return a | b


def _links(df) -> set:
    return {(r.exchange_trade_id, r.order_id, r.event_no, r.matcher)
            for r in df.collect()}


def _first_frame(trades) -> tuple[int, int]:
    """(oldest trade − 1 µs, newest trade − delay]: a first run's frame."""
    b = trades.agg(F.min(F.unix_micros("trade_microtimestamp")),
                   F.max(F.unix_micros("trade_microtimestamp"))).collect()[0]
    return b[0] - 1, b[1] - DELAY_US


def test_incremental_equals_one_shot(feed):
    l3, trades = feed
    hi_us = trades.agg(
        F.max(F.unix_micros("trade_microtimestamp"))).collect()[0][0] \
        - 120_000_000
    got = _links(incremental_match(l3, trades))
    want = _one_shot(l3, trades, hi_us)
    assert got == want
    # the boundary cases actually fired:
    by_trade = {t: (o, m) for t, o, e, m in got}
    assert by_trade[3] == (1003, "fill_exact")      # earlier contestant won
    assert 4 not in by_trade                        # loser stays unmatched
    assert by_trade[5] == (1004, "sum_of_fills")
    assert by_trade[8] == (1006, "sum_of_fills")    # straddling run, early
    assert by_trade[9] == (1006, "sum_of_fills")    # member kept atomically
    assert 12 not in by_trade and 13 not in by_trade  # delay tail


def test_chunk_size_invariance(feed):
    """The steps tile: the union of :func:`incremental_match_step` over
    10-min cuts, and over 4-min cuts, of (oldest − 1 µs, horizon] equals
    the one-step ``incremental_match`` — the property resume relies on."""
    l3, trades = feed
    base = _links(incremental_match(l3, trades))
    lo, hi = _first_frame(trades)
    for cut_us in (CUT_US, 240 * 1_000_000):
        got = set()
        for a in range(lo, hi, cut_us):
            got |= _links(incremental_match_step(
                l3, trades, a, min(a + cut_us, hi)))
        assert got == base


def test_replay_is_idempotent(feed):
    """Restart semantics (reference pga_match resumes from its own link
    state): feeding the previous result back yields ZERO new links."""
    l3, trades = feed
    links = incremental_match(l3, trades)
    again = incremental_match(l3, trades, existing_links=links)
    assert again.count() == 0


def test_step_is_pure_and_tiling(feed):
    """Replaying a single chunk reproduces its links verbatim, and chunk
    outputs are disjoint (each link owned by exactly one chunk)."""
    l3, trades = feed
    lo, _ = _first_frame(trades)
    f1 = (lo, lo + CUT_US)
    s1 = _links(incremental_match_step(l3, trades, *f1))
    assert s1 == _links(incremental_match_step(l3, trades, *f1))
    f2 = (f1[1], f1[1] + CUT_US)
    s2 = _links(incremental_match_step(l3, trades, *f2))
    assert s1 and s2 and not (s1 & s2)


def test_match_job_incremental_arrival_and_replay(feed, tmp_path, spark):
    """The foreachBatch runner (streaming/match_job.py): trades arriving
    across micro-batches accumulate to EXACTLY the one-shot batch links
    (the delay guard keeps every matched window final for in-order
    feeds), and replaying a committed batch — foreachBatch's
    at-least-once contract — changes neither store."""
    from obadiah_spark.streaming.match_job import MatchJob, read_links

    l3, trades = feed
    job = MatchJob(lambda s: l3, str(tmp_path / "trades"),
                   str(tmp_path / "links"))
    batches = [
        trades.filter(F.col("exchange_trade_id") <= 4),
        trades.filter((F.col("exchange_trade_id") > 4)
                      & (F.col("exchange_trade_id") <= 9)),
        trades.filter(F.col("exchange_trade_id") > 9),
    ]
    for i, b in enumerate(batches):
        job(b, i)
    want = _links(incremental_match(l3, trades))
    assert _links(read_links(spark, str(tmp_path / "links"))) == want
    n_trades = spark.read.parquet(str(tmp_path / "trades")).count()
    assert n_trades == trades.count()
    # at-least-once replay of the last committed batch: both stores
    # idempotent (partition overwrite for trades, empty delta for links)
    job(batches[-1], 2)
    assert _links(read_links(spark, str(tmp_path / "links"))) == want
    assert spark.read.parquet(str(tmp_path / "trades")).count() == n_trades
    # the stream-finality invariant is enforced
    import pytest as _pytest
    with _pytest.raises(ValueError, match="horizon"):
        MatchJob(lambda s: l3, "x", "y", delay_us=1_000_000)


def test_terminates_across_empty_chunks(spark):
    """A frame with a long stretch of no trades still yields the links on
    either side of it (the reference delegates the empty stretch to cron
    cadence — the batch replay may not stall)."""
    trades = spark.createDataFrame(
        [(1, ERA, _ts(0.0), 100.0, 1.0, "b", 1),
         (1, ERA, _ts(3000.0), 105.0, 1.0, "s", 2)],
        "pair_id int, era timestamp, trade_microtimestamp timestamp, "
        "price double, fill double, origination string, "
        "exchange_trade_id bigint",
    )
    l3 = spark.createDataFrame(
        [(1, ERA, _ts(0.5), 1001, 1, "s", 100.0, 1.0)],
        "pair_id int, era timestamp, microtimestamp timestamp, "
        "order_id bigint, event_no int, side string, price double, "
        "fill double",
    )
    got = _links(incremental_match(l3, trades))
    assert got == {(1, 1001, 1, "fill_exact")}


def test_long_backlog_at_default_arguments(spark):
    """A first run over a backlog far longer than the reference's 2 h
    per-run interval (two linked trades 1,000 days apart, default
    arguments) matches it whole: no step bound, no convergence error."""
    far = 1000 * 86_400.0
    trades = spark.createDataFrame(
        [(1, ERA, _ts(0.0), 100.0, 1.0, "b", 1),
         (1, ERA, _ts(far), 105.0, 1.0, "s", 2),
         (1, ERA, _ts(far + 3600.0), 110.0, 1.0, "b", 3)],
        "pair_id int, era timestamp, trade_microtimestamp timestamp, "
        "price double, fill double, origination string, "
        "exchange_trade_id bigint",
    )
    l3 = spark.createDataFrame(
        [(1, ERA, _ts(0.5), 1001, 1, "s", 100.0, 1.0),
         (1, ERA, _ts(far + 0.5), 1002, 1, "b", 105.0, 1.0)],
        "pair_id int, era timestamp, microtimestamp timestamp, "
        "order_id bigint, event_no int, side string, price double, "
        "fill double",
    )
    got = _links(incremental_match(l3, trades))
    assert got == {(1, 1001, 1, "fill_exact"), (2, 1002, 1, "fill_exact")}


def test_lookback_precondition_holds_on_gate_fabric(spark, level3):
    """The exactness precondition (longest same-(price, origination) run
    + match delay fits in the 60 s lookback) holds on the synthetic gate
    fabric — so the gate's one-shot oracle is valid for the chunked
    query. Vacuously true at sf0.001 (matches empty); the driver gate
    re-checks the equality itself at sf0.01 via the hash."""
    from pyspark.sql.window import Window as W

    trades = spark.table("matches").select(
        "pair_id", "era",
        F.col("microtimestamp").alias("trade_microtimestamp"),
        "price", F.col("amount").alias("fill"),
        F.col("side").alias("origination"), "exchange_trade_id")
    w = W.partitionBy("pair_id", "era").orderBy("trade_microtimestamp",
                                                "exchange_trade_id")
    runs = (
        trades.withColumn(
            "_new", F.when(
                (F.lag("price").over(w) != F.col("price"))
                | (F.lag("origination").over(w) != F.col("origination"))
                | F.lag("price").over(w).isNull(), 1).otherwise(0))
        .withColumn("run_id", F.sum("_new").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy("pair_id", "era", "run_id")
        .agg((F.max(F.unix_micros("trade_microtimestamp"))
              - F.min(F.unix_micros("trade_microtimestamp"))).alias("dur"))
    )
    max_dur = runs.agg(F.max("dur")).collect()[0][0] or 0
    assert max_dur + 1_000_000 <= 60 * 1_000_000


# ---------------------------------------------------------------------------
# bitstamp pga_match sweep (tolerance x offset grid over I10)
# ---------------------------------------------------------------------------
# The gate corpus exercises the tolerance progression but its inferred pairs
# are all lead-1-adjacent and share no events, so offset>1 matching and the
# cross-cell claimed-event exclusion never fire there. This fixture makes
# both load-bearing: trade 100 and trade 200 want the SAME event pair at
# different tolerances (200 must be blocked — the reference's
# live_orders.trade_id backfill), and trade 300's two events have an
# order_created event between them (matchable only at offset 2).

# (order_id, t, event_no, side, amount, fill, pts)
SWEEP_EVENTS = [
    (10, 1.0, 2, "s", 0.0, 5.0, 0.5),
    (20, 1.1, 2, "b", 0.0, 5.0, 0.8),
    (30, 2.0, 2, "s", 0.0, 7.0, 1.5),
    (40, 2.1, 1, "b", 3.0, 0.0, 2.05),  # order_created: not fillish, but
    (50, 2.2, 2, "b", 0.0, 7.0, 1.8),   # occupies a stream position
    # reincarnation: orders 10/20 live again with the SAME (order_id,
    # event_no) at later microtimestamps — a claim on life 1 must not
    # block life 2 (the claim key includes microtimestamp)
    (10, 3.0, 2, "s", 0.0, 4.0, 2.5),
    (20, 3.1, 2, "b", 0.0, 4.0, 2.8),
]
# (trade_id, t_sec, amount, price, type, buy_oid, sell_oid)
SWEEP_TRADES = [
    (100, 1.2, 5.0, 100.0, "b", 20, 10),   # exact -> cell (0.0001, off 1)
    (200, 1.3, 5.05, 100.0, "b", 20, 10),  # within 0.1 of the same events:
                                           # must be BLOCKED by 100's claim
    (300, 2.3, 7.0, 100.0, "b", 50, 30),   # exact but lead-2 -> (0.0001, 2)
    (400, 3.2, 4.05, 100.0, "b", 20, 10),  # matches lives-2 of 10/20 at the
                                           # 0.1 cell AFTER life 1 was claimed
]
SWEEP_GRID = dict(tolerances=(0.0001, 0.1), max_offset=2)


def _sweep_frames(spark, trade_ids=None):
    l3 = spark.createDataFrame(
        [(1, ERA, _ts(t), oid, eno, side, a, f, _ts(pts), "active")
         for oid, t, eno, side, a, f, pts in SWEEP_EVENTS],
        "pair_id int, era timestamp, microtimestamp timestamp, "
        "order_id bigint, event_no int, side string, amount double, "
        "fill double, price_microtimestamp timestamp, chain_state string",
    )
    rows = [r for r in SWEEP_TRADES
            if trade_ids is None or r[0] in trade_ids]
    trades = spark.createDataFrame(
        [(1, ERA, tid, _ts(t), a, p, ty, bo, so)
         for tid, t, a, p, ty, bo, so in rows],
        "pair_id int, era timestamp, exchange_trade_id bigint, "
        "trade_microtimestamp timestamp, amount double, price double, "
        "trade_type string, buy_order_id bigint, sell_order_id bigint",
    )
    return l3, trades


def test_sweep_offsets_tolerances_and_claim_exclusion(spark):
    from obadiah_spark.operators.lifecycle import bitstamp_match_sweep

    l3, trades = _sweep_frames(spark)
    out = bitstamp_match_sweep(l3, trades, **SWEEP_GRID)
    got = {r.exchange_trade_id: (r.tolerance, r.sweep_offset,
                                 r.buy_order_id, r.sell_order_id)
           for r in out.collect()}
    # 100 exact at the tightest cell; 300 only at offset 2; 200 blocked
    # because 100 claimed both events of its only candidate pair; 400
    # matches the REINCARNATED lives of 10/20 in a later cell — 100's
    # claim on life 1 must not over-exclude life 2
    assert got == {100: (0.0001, 1, 20, 10), 300: (0.0001, 2, 50, 30),
                   400: (0.1, 1, 20, 10)}


def test_sweep_blocked_trade_matches_when_alone(spark):
    """Negative control: absent the earlier claim, trade 200 DOES match its
    pair at the 0.1 tolerance cell — proving the exclusion (not the rule
    codes) is what blocks it in the full sweep."""
    from obadiah_spark.operators.lifecycle import bitstamp_match_sweep

    l3, trades = _sweep_frames(spark, trade_ids={200})
    out = bitstamp_match_sweep(l3, trades, **SWEEP_GRID)
    got = [(r.exchange_trade_id, r.tolerance, r.sweep_offset)
           for r in out.collect()]
    assert got == [(200, 0.1, 1)]


def test_sweep_resume_is_idempotent(spark):
    """Re-running over already-matched ground (prior links' claimed events
    seeded, matched trades removed) yields zero new links — the resume
    contract of the scheduled job."""
    from obadiah_spark.operators.lifecycle import (
        claimed_events, bitstamp_match_sweep)

    l3, trades = _sweep_frames(spark)
    first = bitstamp_match_sweep(l3, trades, **SWEEP_GRID)
    rest = trades.join(first.select("pair_id", "exchange_trade_id"),
                       ["pair_id", "exchange_trade_id"], "left_anti")
    again = bitstamp_match_sweep(l3, rest, claimed=claimed_events(first),
                                 **SWEEP_GRID)
    assert again.count() == 0


def test_sweep_oracle_parity_on_exclusion_fixture(spark):
    """DuckDB runs the generated chained-CTE sweep oracle over the SAME
    fixture — cross-engine parity where the claimed-event exclusion and
    offset-2 matching actually fire (the sf0.01 gate corpus never
    exercises either)."""
    import duckdb

    from obadiah_spark.operators.lifecycle import (
        bitstamp_match_sweep, bitstamp_match_sweep_oracle_sql)

    l3, trades = _sweep_frames(spark)
    out = bitstamp_match_sweep(l3, trades, **SWEEP_GRID)
    cols = sorted(out.columns)
    con = duckdb.connect()
    con.register("level3", l3.toPandas())
    con.register("sweep_trades", trades.toPandas())
    sql = bitstamp_match_sweep_oracle_sql(**SWEEP_GRID)
    oracle = con.execute(sql).fetch_df()
    got = sorted(map(tuple, out.select(*cols).toPandas().itertuples(index=False)))
    want = sorted(map(tuple, oracle[cols].itertuples(index=False)))
    assert got == want


def test_bitstamp_match_job_resume_and_replay(spark, tmp_path):
    """The bitstamp foreachBatch runner: links accumulate across
    micro-batches with the resume cursor at the last matched EVENT, a
    trade whose candidate events precede the cursor stays unmatched (the
    reference's v_start semantics), and replaying a committed batch
    appends zero links."""
    from obadiah_spark.streaming.match_job import (
        BitstampMatchJob, read_links)

    l3, trades = _sweep_frames(spark)
    job = BitstampMatchJob(lambda s: l3, str(tmp_path / "bs_trades"),
                           str(tmp_path / "bs_links"), **SWEEP_GRID)
    # batch 0: trades 100 (matches) and 200 (blocked by 100's event claim)
    job(trades.filter(F.col("exchange_trade_id") <= 200), 0)
    links = read_links(spark, str(tmp_path / "bs_links"))
    assert {r.exchange_trade_id for r in links.collect()} == {100}
    # batch 1: resume cursor = 100's latest event; 300/400 match, and 200
    # (still in the store, still within the window by timestamp) stays
    # unmatched — its only candidate pair starts BEFORE the cursor
    job(trades.filter(F.col("exchange_trade_id") > 200), 1)
    links = read_links(spark, str(tmp_path / "bs_links"))
    got = {r.exchange_trade_id: (r.tolerance, r.sweep_offset)
           for r in links.collect()}
    assert got == {100: (0.0001, 1), 300: (0.0001, 2), 400: (0.1, 1)}
    # at-least-once replay of the committed batch: zero new links, the
    # trades store overwrites its own partition
    n = spark.read.parquet(str(tmp_path / "bs_trades")).count()
    job(trades.filter(F.col("exchange_trade_id") > 200), 1)
    links2 = read_links(spark, str(tmp_path / "bs_links"))
    assert links2.count() == links.count()
    assert spark.read.parquet(str(tmp_path / "bs_trades")).count() == n


def test_sweep_full_reference_grid(spark):
    """The production-default grid (the reference's 5 tolerances x 4
    offsets) runs end to end; on this fixture the extra cells are sterile,
    so every trade lands in the same cell as under the trimmed gate grid —
    cell PRIORITY, not grid size, decides placement. The generated
    20-cell chained-CTE oracle must agree (the gate only exercises the
    generator at 3x2, so a bug specific to deeper offset chains would
    otherwise go unchecked)."""
    import duckdb

    from obadiah_spark.operators.lifecycle import (
        bitstamp_match_sweep, bitstamp_match_sweep_oracle_sql)

    l3, trades = _sweep_frames(spark)
    out = bitstamp_match_sweep(l3, trades)  # defaults: 5 x 4
    got = {r.exchange_trade_id: (r.tolerance, r.sweep_offset)
           for r in out.collect()}
    assert got == {100: (0.0001, 1), 300: (0.0001, 2), 400: (0.1, 1)}
    con = duckdb.connect()
    con.register("level3", l3.toPandas())
    con.register("sweep_trades", trades.toPandas())
    oracle = con.execute(bitstamp_match_sweep_oracle_sql()).fetch_df()
    want = {int(r.exchange_trade_id): (r.tolerance, int(r.sweep_offset))
            for r in oracle.itertuples()}
    assert got == want


def test_sweep_call_starts_no_jobs(spark):
    """The sweep is one lazy plan: calling it, with or without seeded
    claims, starts no Spark job (jobs counted by job group); consuming the
    result under the same group does start them, so the count is live."""
    import uuid

    from obadiah_spark.operators.lifecycle import (
        bitstamp_match_sweep, claimed_events)

    l3, trades = _sweep_frames(spark)
    seed = claimed_events(bitstamp_match_sweep(
        l3, trades.filter(F.col("exchange_trade_id") == 100)))
    sc = spark.sparkContext
    for claimed in (None, seed):
        group = f"sweep-call-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "bitstamp_match_sweep call")
        try:
            out = bitstamp_match_sweep(l3, trades, claimed=claimed)
            called = list(sc.statusTracker().getJobIdsForGroup(group))
            out.collect()
            consumed = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert called == []
        assert consumed


def test_sweep_trade_id_recurring_across_eras(spark):
    """One exchange_trade_id in two eras of one pair is ONE trade to the
    sweep: the matched-trade exclusion and the per-trade pick are keyed
    (pair_id, exchange_trade_id) without era, so only the earlier era's
    pair links — in the same cell (trade 500) and in a later one (600,
    whose era-2 copy needs the 0.1 cell). Checked against the oracle."""
    import duckdb

    from obadiah_spark.operators.lifecycle import (
        bitstamp_match_sweep, bitstamp_match_sweep_oracle_sql)

    era2 = ERA + timedelta(days=7)
    events = [(ERA, 10, 1.0, "s", 5.0, 0.5), (ERA, 20, 1.1, "b", 5.0, 0.8),
              (ERA, 30, 2.0, "s", 6.0, 1.5), (ERA, 40, 2.1, "b", 6.0, 1.8),
              (era2, 11, 1.0, "s", 5.0, 0.5), (era2, 21, 1.1, "b", 5.0, 0.8),
              (era2, 31, 2.0, "s", 6.0, 1.5), (era2, 41, 2.1, "b", 6.0, 1.8)]
    l3 = spark.createDataFrame(
        [(1, era, era + timedelta(seconds=t), oid, 2, side, 0.0, f,
          era + timedelta(seconds=pts), "active")
         for era, oid, t, side, f, pts in events],
        "pair_id int, era timestamp, microtimestamp timestamp, "
        "order_id bigint, event_no int, side string, amount double, "
        "fill double, price_microtimestamp timestamp, chain_state string",
    )
    trades = spark.createDataFrame(
        [(1, era, tid, era + timedelta(seconds=t), a, 100.0, "b", bo, so)
         for era, tid, t, a, bo, so in [
             (ERA, 500, 1.2, 5.0, 20, 10), (era2, 500, 1.2, 5.0, 21, 11),
             (ERA, 600, 2.2, 6.0, 40, 30), (era2, 600, 2.2, 6.05, 41, 31)]],
        "pair_id int, era timestamp, exchange_trade_id bigint, "
        "trade_microtimestamp timestamp, amount double, price double, "
        "trade_type string, buy_order_id bigint, sell_order_id bigint",
    )
    out = bitstamp_match_sweep(l3, trades, **SWEEP_GRID)
    cols = sorted(out.columns)
    got = sorted(map(tuple, out.select(*cols).toPandas().itertuples(index=False)))
    assert sorted((r.exchange_trade_id, r.era, r.tolerance)
                  for r in out.collect()) == [(500, ERA, 0.0001),
                                              (600, ERA, 0.0001)]
    con = duckdb.connect()
    con.register("level3", l3.toPandas())
    con.register("sweep_trades", trades.toPandas())
    oracle = con.execute(bitstamp_match_sweep_oracle_sql(**SWEEP_GRID)).fetch_df()
    assert got == sorted(map(tuple, oracle[cols].itertuples(index=False)))


def test_read_links_distinguishes_missing_from_broken(spark, tmp_path):
    """ADVICE r8 pin: a MISSING links store means "no links yet" (None),
    but a store that exists and fails to read must RAISE — mapping a
    transient read error to None would silently reset the resume cursor
    and re-append the whole history's links on the next batch."""
    import pytest

    from obadiah_spark.streaming.match_job import read_links

    assert read_links(spark, str(tmp_path / "nope")) is None
    broken = tmp_path / "broken"
    broken.mkdir()
    (broken / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as exc_info:
        df = read_links(spark, str(broken))
        if df is not None:  # schema inference may defer the failure
            df.collect()
    assert exc_info.value is not None


def test_trade_id_packing_guard(spark):
    """ADVICE r8 pin: the synthetic trade-id bit fields refuse values that
    would bleed into a neighboring field instead of silently colliding."""
    import pytest

    import __spark_entry__ as em

    ok = spark.createDataFrame(
        [(4095, 524287, 4095, 524287)],
        "buy_order_id int, buy_event_no int, sell_order_id int, "
        "sell_event_no int")
    (ok.select(em._packed_trade_id().alias("tid")).collect())
    bad = spark.createDataFrame(
        [(4096, 0, 0, 0)],
        "buy_order_id int, buy_event_no int, sell_order_id int, "
        "sell_event_no int")
    with pytest.raises(Exception, match="packing overflow"):
        bad.select(em._packed_trade_id().alias("tid")).collect()
