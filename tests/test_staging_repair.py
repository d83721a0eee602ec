"""Q5 staging repairs: missing-fill round trip + reveal_episodes movement.

Both are density-gated: the synthetic matches/inferred-trades streams are
empty at sf0.001 (fills need >=2 chained events per order). Run with
OBADIAH_TEST_SF_DIR=/root/testdata/sf0.01 for the non-vacuous paths; the
driver's gate exercises them at sf0.01 regardless.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tools.verify_local import compare


_L3_SCHEMA = (
    "microtimestamp timestamp, order_id long, event_no int, side string, "
    "price double, amount double, fill double, "
    "next_microtimestamp timestamp, next_event_no int, pair_id int, "
    "exchange_id int, local_timestamp timestamp, "
    "price_microtimestamp timestamp, price_event_no int, "
    "chain_state string, era timestamp, life_no int"
)


def test_missing_fill_repair_round_trip_fixture(spark):
    """Default-scale round trip on a hand-built 3-event chain: NULL the
    middle fill, subtract it from the earlier amount (the corruption the
    reference repairs), assert the repair reproduces the original exactly."""
    from datetime import datetime

    from obadiah_spark.operators.staging_repair import find_and_repair_missing_fill

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    era = datetime(2024, 1, 1)
    orig = [
        (ts(1), 7, 1, "b", 100.0, 5.0, None, ts(2), 2, 1, 1, ts(1), ts(1), 1, "chained", era, 0),
        (ts(2), 7, 2, "b", 100.0, 4.0, 1.0, ts(3), 3, 1, 1, ts(2), ts(1), 1, "chained", era, 0),
        (ts(3), 7, 3, "b", 100.0, 3.0, 1.0, None, None, 1, 1, ts(3), ts(1), 1, "alive", era, 0),
    ]
    corrupted = [
        (ts(1), 7, 1, "b", 100.0, 4.0, None, ts(2), 2, 1, 1, ts(1), ts(1), 1, "chained", era, 0),
        (ts(2), 7, 2, "b", 100.0, 4.0, None, ts(3), 3, 1, 1, ts(2), ts(1), 1, "chained", era, 0),
        (ts(3), 7, 3, "b", 100.0, 3.0, 1.0, None, None, 1, 1, ts(3), ts(1), 1, "alive", era, 0),
    ]
    links = spark.createDataFrame(
        [(1, ts(2), 7, 2, 1.0)],
        "pair_id int, microtimestamp timestamp, order_id long, "
        "event_no int, trade_amount double",
    )
    repaired = find_and_repair_missing_fill(
        spark.createDataFrame(corrupted, _L3_SCHEMA), links)
    assert not compare(
        "missing-fill fixture round trip",
        repaired.toPandas(),
        spark.createDataFrame(orig, _L3_SCHEMA).toPandas())


def test_reveal_episodes_fixture(spark):
    """Default-scale reveal: both events of a matched trade move to the
    aggressor's price-chain start, and the aggressor chain's forward pointer
    follows the moved event."""
    from datetime import datetime

    from obadiah_spark.operators.staging_repair import reveal_episodes

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    era = datetime(2024, 1, 1)
    rows = [
        # resting buy order 7, hit at ts(2)
        (ts(2), 7, 1, "b", 100.0, 5.0, None, None, None, 1, 1, ts(2), ts(2), 1, "alive", era, 0),
        # aggressor sell order 101: price chain starts at its creation ts(3);
        # the trade event is e2 at ts(5)
        (ts(3), 101, 1, "s", 100.0, 2.0, None, ts(5), 2, 1, 1, ts(3), ts(3), 1, "chained", era, 0),
        (ts(5), 101, 2, "s", 100.0, 1.0, 1.0, None, None, 1, 1, ts(5), ts(3), 1, "alive", era, 0),
    ]
    trades = spark.createDataFrame(
        [(1, "s", ts(2), 7, 1, ts(5), 101, 2)],
        "pair_id int, side string, buy_microtimestamp timestamp, "
        "buy_order_id long, buy_event_no int, "
        "sell_microtimestamp timestamp, sell_order_id long, "
        "sell_event_no int",
    )
    out = reveal_episodes(spark.createDataFrame(rows, _L3_SCHEMA), trades)
    got = {(r.order_id, r.event_no): r for r in out.collect()}
    assert len(got) == 3
    assert got[(7, 1)].microtimestamp == ts(3)    # resting event moved
    assert got[(101, 2)].microtimestamp == ts(3)  # aggressor event moved
    assert got[(101, 1)].next_microtimestamp == ts(3)  # pointer followed


def test_missing_fill_repair_round_trip(spark, level3):
    """repair(corrupt(level3)) must reproduce level3 exactly — the corruption
    subtracts each lost fill from all earlier amounts of the life, the repair
    adds it back from the trade links."""
    from obadiah_spark.operators.staging_repair import (
        corrupt_fills,
        find_and_repair_missing_fill,
    )

    matches = spark.table("matches")
    corrupted, links = corrupt_fills(level3, matches)
    n_nulled = corrupted.filter(
        F.col("fill").isNull() & (F.col("event_no") > 1)
        & (F.col("chain_state") != "deleted")).count()
    if n_nulled == 0:
        pytest.skip("no matched fills at this scale (need sf>=0.01 density)")
    repaired = find_and_repair_missing_fill(corrupted, links)
    assert not compare("missing-fill round trip",
                       repaired.toPandas(), level3.drop("event_id").toPandas())


def test_reveal_episodes_moves_events(spark, level3):
    from obadiah_spark.operators.matching import inferred_trades
    from obadiah_spark.operators.staging_repair import reveal_episodes

    trades = inferred_trades(level3)
    if trades.limit(1).count() == 0:
        pytest.skip("no inferred trades at this scale (need sf>=0.01 density)")
    out = reveal_episodes(level3, trades)
    assert out.count() == level3.count()  # a rewrite, not a filter
    orig = level3.select(
        "pair_id", "order_id", "event_no", "era", "life_no",
        F.col("microtimestamp").alias("orig_ts"))
    j = out.join(orig, ["pair_id", "order_id", "event_no", "era", "life_no"])
    moved = j.filter(F.col("microtimestamp") != F.col("orig_ts")).count()
    assert moved > 0


def test_fix_aggressor_collapses_inversion_chain_in_one_pass(spark):
    """Phase A: three trades propose episodes P1>P2>P3 for increasing
    event_no of one resting order — a two-level inversion. The reference
    needs one UPDATE loop iteration per level; the batch running-min window
    must collapse both moves in a single pass."""
    from datetime import datetime

    from obadiah_spark.operators.staging_repair import fix_aggressor_creation_order

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    era = datetime(2024, 1, 1)
    schema = (
        "microtimestamp timestamp, order_id long, event_no int, side string, "
        "price double, amount double, fill double, "
        "next_microtimestamp timestamp, next_event_no int, pair_id int, "
        "exchange_id int, local_timestamp timestamp, "
        "price_microtimestamp timestamp, price_event_no int, "
        "chain_state string, era timestamp, life_no int"
    )
    X = 7
    rows = [
        # resting order X: three events, price chain starts at its first
        (ts(1), X, 1, "b", 100.0, 5.0, None, ts(2), 2, 1, 1, ts(1), ts(1), 1, "chained", era, 0),
        (ts(2), X, 2, "b", 100.0, 4.0, 1.0, ts(3), 3, 1, 1, ts(2), ts(1), 1, "chained", era, 0),
        (ts(3), X, 3, "b", 100.0, 3.0, 1.0, None, None, 1, 1, ts(3), ts(1), 1, "alive", era, 0),
        # aggressors a1..a3 whose price chains start at 00:30 > 00:20 > 00:10
        (ts(30), 101, 1, "s", 101.0, 1.0, None, None, None, 1, 1, ts(30), ts(30), 1, "alive", era, 0),
        (ts(20), 102, 1, "s", 101.0, 1.0, None, None, None, 1, 1, ts(20), ts(20), 1, "alive", era, 0),
        (ts(10), 103, 1, "s", 101.0, 1.0, None, None, None, 1, 1, ts(10), ts(10), 1, "alive", era, 0),
    ]
    l3 = spark.createDataFrame(rows, schema)
    trades = spark.createDataFrame(
        [
            (1, "s", ts(1), X, 1, ts(30), 101, 1),
            (1, "s", ts(2), X, 2, ts(20), 102, 1),
            (1, "s", ts(3), X, 3, ts(10), 103, 1),
        ],
        "pair_id int, side string, buy_microtimestamp timestamp, "
        "buy_order_id long, buy_event_no int, sell_microtimestamp timestamp, "
        "sell_order_id long, sell_event_no int",
    )
    out = fix_aggressor_creation_order(l3, trades)
    got = {r.order_id: r for r in out.filter("order_id > 100").collect()}
    assert got[101].microtimestamp == ts(10)  # collapsed two levels in ONE pass
    assert got[102].microtimestamp == ts(10)
    assert got[103].microtimestamp == ts(10)
    # price-chain self-pointers of the moved start events follow the move
    assert got[101].price_microtimestamp == ts(10)
    assert got[102].price_microtimestamp == ts(10)
    # the resting order's events did not move
    assert {r.microtimestamp for r in out.filter(f"order_id = {X}").collect()} == {ts(1), ts(2), ts(3)}


def test_normalize_event_order_equals_reference_loops(spark):
    """The closed-form normalization must equal a literal replay of the
    reference's two UPDATE loops (db/bitstamp_schema.sql:1686-1747):
    backward one-pointer-hop per iteration with trigger-maintained next
    pointers, then forward running-max, each to fixpoint."""
    from datetime import datetime

    from obadiah_spark.operators.staging_repair import normalize_event_order

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    era = datetime(2024, 1, 1)
    # one chain, deliberately scrambled; events 2 and 5 are matched
    # (ineligible), everything else eligible (fill NULL)
    tss = [10, 50, 20, 40, 5, 30]
    matched = [False, True, False, False, True, False]
    n = len(tss)
    rows = []
    for i in range(n):
        last = i == n - 1
        rows.append((
            ts(tss[i]), 42, i + 1, "b", 100.0, 1.0, None,
            None if last else ts(tss[i + 1]), None if last else i + 2,
            1, 1, ts(tss[i]), ts(tss[0]), 1,
            "alive" if last else "chained", era, 0, matched[i],
        ))
    schema = (
        "microtimestamp timestamp, order_id long, event_no int, side string, "
        "price double, amount double, fill double, "
        "next_microtimestamp timestamp, next_event_no int, pair_id int, "
        "exchange_id int, local_timestamp timestamp, "
        "price_microtimestamp timestamp, price_event_no int, "
        "chain_state string, era timestamp, life_no int, is_matched boolean"
    )
    l3 = spark.createDataFrame(rows, schema)

    # literal reference replay
    cur = [ts(t) for t in tss]
    elig = [(not matched[i] or i == 0) and i < n - 1 for i in range(n)]
    changed = True
    while changed:  # backward loop: one pointer hop per iteration
        changed = False
        for i in range(n - 1):
            if elig[i] and cur[i + 1] < cur[i]:
                cur[i] = cur[i + 1]
                changed = True
    changed = True
    while changed:  # forward loop: running max per iteration
        changed = False
        run = cur[0]
        for i in range(1, n):
            run = max(run, cur[i])
            if not matched[i] and cur[i] < run:
                cur[i] = run
                changed = True

    got = {r.event_no: r.microtimestamp
           for r in normalize_event_order(l3).collect()}
    assert got == {i + 1: cur[i] for i in range(n)}
    assert [got[i + 1] for i in range(n)] != [ts(t) for t in tss]  # non-vacuous
