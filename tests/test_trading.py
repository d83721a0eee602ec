"""Trading analytics: fixture tests with hand-computed expected positions
(the sequential state machines aren't SQL-expressible, so the driver gate
records rows-only — these fixtures are the correctness evidence), plus the
v=0 identity: trading_period(volume=0) == price projection of the spread
fold deduped on price change."""

from __future__ import annotations

import numpy as np

from obadiah_spark.operators.trading import (
    _discover_draws,
    _discover_positions,
    trading_period_fold,
)
from obadiah_spark.fold import spread_fold
from tools.verify_local import compare


def _ts(*secs):
    return np.array([s * 1_000_000 for s in secs], dtype=np.int64)


# phi/rho/epsilon are LOG-RETURN units (reference InstantPrice::operator-
# is log(p1)-log(p2), src/base.h:151): phi=0.01 = 2% round-trip commission.

def test_positions_known_sequence():
    # zero-spread prices 100 -> 105 -> 95 -> 100; log-moves 4.9%/10%/5.1%
    # all clear the 2% commission (phi=0.01)
    ts = _ts(0, 1, 2, 3)
    p = np.array([100.0, 105.0, 95.0, 100.0])
    out = _discover_positions(ts, p, p, phi=0.01, rho=0.0)
    got = [(s[0], e[0]) for s, e in out]
    assert got == [(100.0, 105.0), (105.0, 95.0), (95.0, 100.0)]
    # open/close timestamps: long t0->t1, short t1->t2, long t2->t3
    assert [(s[1], e[1]) for s, e in out] == [
        (0, 1_000_000), (1_000_000, 2_000_000), (2_000_000, 3_000_000)]


def test_positions_commission_suppresses_small_moves():
    # log-moves of ~0.5% / 0.7% / 0.4% never clear the 2% commission
    ts = _ts(0, 1, 2, 3)
    p = np.array([100.0, 100.5, 99.8, 100.2])
    assert _discover_positions(ts, p, p, phi=0.01, rho=0.0) == []


def test_positions_interest_rho():
    # log-profit log(105/100) = 0.0488 over 10s; rho=0.005/s -> interest
    # 0.05 > profit -> no trade; rho=0.004 -> 0.04 < profit -> one trade
    ts = _ts(0, 10)
    p = np.array([100.0, 105.0])
    assert _discover_positions(ts, p, p, phi=0.0, rho=0.005) == []
    assert len(_discover_positions(ts, p, p, phi=0.0, rho=0.004)) == 1
    assert len(_discover_positions(ts, p, p, phi=0.0, rho=0.0)) == 1


def test_draws_known_sequence():
    # reversal 105 -> 95 is |log(95/105)| = 10% > epsilon = 5%
    ts = _ts(0, 1, 2, 3)
    p = np.array([100.0, 105.0, 95.0, 100.0])
    out = _discover_draws(ts, p, epsilon=0.05)
    got = [(s[0], e[0]) for s, e in out]
    # reference quirk: the reversal row (95) triggers the close of the up-draw
    # and is consumed; the final draw runs 105 -> last point
    assert got == [(100.0, 105.0), (105.0, 100.0)]


def test_draws_small_reversals_ignored():
    ts = _ts(0, 1, 2, 3, 4)
    p = np.array([100.0, 103.0, 102.5, 106.0, 105.8])
    out = _discover_draws(ts, p, epsilon=0.05)
    # dips of ~0.5%/0.2% < eps never close the up-draw; the final draw ends
    # at the LAST point (reference emits en_, not the turning point, at EOS)
    assert [(s[0], e[0]) for s, e in out] == [(100.0, 105.8)]


def test_trading_period_v0_equals_spread_prices(spark, level3):
    tp = trading_period_fold(level3, volume=0.0).toPandas()
    l1 = spread_fold(level3).toPandas()
    # dedup l1 prices per (pair, era) on price change only
    l1 = l1.sort_values(["pair_id", "era", "microtimestamp"])
    keep = []
    prev = {}
    for r in l1.itertuples(index=False):
        key = (r.pair_id, r.era)
        cur = (r.best_bid_price, r.best_ask_price)
        if prev.get(key) != cur:
            keep.append((r.pair_id, r.era, r.microtimestamp,
                         r.best_bid_price, r.best_ask_price))
            prev[key] = cur
    import pandas as pd

    expect = pd.DataFrame(keep, columns=[
        "pair_id", "era", "microtimestamp", "bid_price", "ask_price"])
    assert not compare("tp_v0", tp, expect)


def test_trading_period_volume_walk(spark, level3):
    # with volume > best-level qty the effective ask must be >= best ask
    from pyspark.sql import functions as F

    tp5 = trading_period_fold(level3, volume=5.0)
    l1 = spread_fold(level3).select(
        "pair_id", "microtimestamp",
        F.col("best_bid_price").alias("bb"), F.col("best_ask_price").alias("ba"))
    j = tp5.join(l1, ["pair_id", "microtimestamp"])
    bad = j.filter(
        (F.col("ask_price").isNotNull() & F.col("ba").isNotNull() & (F.col("ask_price") < F.col("ba")))
        | (F.col("bid_price").isNotNull() & F.col("bb").isNotNull() & (F.col("bid_price") > F.col("bb")))
    )
    assert bad.count() == 0


def test_effective_spread_at_matches_loop_walk(spark):
    """The single-instant effective price must equal the folder's
    sequential loop bit-for-bit — including the float boundary where
    cum(0.1+0.2) >= 0.3 only under the loop's accumulation order."""
    import math

    from obadiah_spark.operators.trading import (
        _effective_price, effective_spread_at)

    rows = [
        # (order_id, side, price, amount) — bid side has the adversarial
        # [0.1, 0.2] quantities; ask side a plain two-level book
        (1, "b", 100.0, 0.1), (2, "b", 99.0, 0.2),
        (3, "s", 101.0, 0.15), (4, "s", 102.0, 0.4),
    ]
    l3 = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", f"2024-01-01 00:00:{i:02d}",
          oid, 1, side, price, amount, "alive", None, None, 0)
         for i, (oid, side, price, amount) in enumerate(rows)],
        "pair_id int, exchange_id int, era string, microtimestamp string, "
        "order_id long, event_no int, side string, price double, "
        "amount double, chain_state string, next_microtimestamp timestamp, "
        "next_event_no int, life_no int",
    ).selectExpr("pair_id", "exchange_id", "CAST(era AS TIMESTAMP) era",
                 "CAST(microtimestamp AS TIMESTAMP) microtimestamp",
                 "order_id", "event_no", "side", "price", "amount",
                 "chain_state", "next_microtimestamp", "next_event_no",
                 "life_no")
    levels = {(s, p): a for _, s, p, a in rows}
    for vol in (0.3, 0.25, 0.05, 0.5, 1.0):
        got = effective_spread_at(
            l3, "2024-01-01 00:01:00", vol).collect()[0]
        want_b = _effective_price(levels, "b", vol)
        want_a = _effective_price(levels, "s", vol)
        for gv, wv in ((got.bid_price, want_b), (got.ask_price, want_a)):
            if math.isnan(wv):
                assert gv is None, (vol, gv, wv)
            else:
                assert gv == wv, (vol, gv, wv)
