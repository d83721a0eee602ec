"""B7 golden fixtures (reference test style, db/python2/tests/
test_orderbook.py:9-56): a tiny hand-computed initial book + ONE episode,
with every expected number written out by hand — add/replace/remove paths,
best bid/ask before and after, level aggregation of two orders at one
price, and the emitted depth changes."""

from __future__ import annotations

from datetime import datetime

from obadiah_spark.fold import depth_change_fold, spread_fold

T0 = datetime(2024, 1, 1, 10, 0, 0)
T1 = datetime(2024, 1, 1, 10, 0, 1)
ERA = datetime(2024, 1, 1)

SCHEMA = ("pair_id int, exchange_id int, era timestamp, "
          "microtimestamp timestamp, order_id long, event_no int, "
          "side string, price double, amount double, chain_state string")


def _golden_l3(spark):
    rows = [
        # initial book (one creation episode at T0):
        #   bids: o1 99.95 x 2.0, o2 99.90 x 1.0
        #   asks: o3 100.05 x 1.5, o4 100.10 x 3.0, o6 100.10 x 1.0
        (1, 1, ERA, T0, 1, 1, "b", 99.95, 2.0, "chained"),
        (1, 1, ERA, T0, 2, 1, "b", 99.90, 1.0, "alive"),
        (1, 1, ERA, T0, 3, 1, "s", 100.05, 1.5, "chained"),
        (1, 1, ERA, T0, 4, 1, "s", 100.10, 3.0, "alive"),
        (1, 1, ERA, T0, 6, 1, "s", 100.10, 1.0, "alive"),
        # ONE episode at T1: amend o1 to 1.5 (replace), delete o3 (remove),
        # create o5 ask 100.08 x 2.5 (add)
        (1, 1, ERA, T1, 1, 2, "b", 99.95, 1.5, "alive"),
        (1, 1, ERA, T1, 3, 2, "s", 100.05, 1.5, "deleted"),
        (1, 1, ERA, T1, 5, 1, "s", 100.08, 2.5, "alive"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_golden_spread(spark):
    l1 = {r.microtimestamp: r for r in spread_fold(_golden_l3(spark)).collect()}
    before, after = l1[T0], l1[T1]
    # before: best bid 99.95 x 2.0, best ask 100.05 x 1.5
    assert (before.best_bid_price, before.best_bid_qty) == (99.95, 2.0)
    assert (before.best_ask_price, before.best_ask_qty) == (100.05, 1.5)
    # after: o1 shrank to 1.5; o3 gone so o5's 100.08 x 2.5 is best ask
    assert (after.best_bid_price, after.best_bid_qty) == (99.95, 1.5)
    assert (after.best_ask_price, after.best_ask_qty) == (100.08, 2.5)


def test_golden_depth_changes(spark):
    d = depth_change_fold(_golden_l3(spark)).collect()
    ep1 = {(r.side, r.price): (r.volume, r.volume_change)
           for r in d if r.microtimestamp == T1}
    # hand-computed: bid 99.95 2.0->1.5; ask 100.05 1.5->0; ask 100.08 0->2.5
    assert ep1 == {
        ("b", 99.95): (1.5, -0.5),
        ("s", 100.05): (0.0, -1.5),
        ("s", 100.08): (2.5, 2.5),
    }
    # level with TWO orders (o4+o6 at 100.10) aggregated at T0
    ep0 = {(r.side, r.price): r.volume for r in d if r.microtimestamp == T0}
    assert ep0[("s", 100.10)] == 4.0
    # the 100.10 level did not change in the episode -> not re-emitted
    assert ("s", 100.10) not in ep1
