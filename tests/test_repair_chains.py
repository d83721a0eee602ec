"""Q3 merge_episodes invariants, D10 chain ids, I6 sum-of-fill matcher, F6."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from obadiah_spark.functions import validate_parameters
from obadiah_spark.operators.depth_chains import depth_changes_with_chains
from obadiah_spark.operators.matching import match_sum_of_fills
from obadiah_spark.operators.repair import merge_episodes

S, E = "2024-01-09 00:00:00", "2024-01-13 00:00:00"


def test_merge_episodes_invariants(level3):
    merged = merge_episodes(level3, S, E)
    n_in = level3.filter(
        (F.col("microtimestamp") >= S) & (F.col("microtimestamp") < E)).count()
    assert merged.count() == n_in  # a rewrite, not a filter
    # every surviving timestamp is either the window end or an in-window death
    ends = merged.select("microtimestamp").distinct().collect()
    deaths = {
        r.microtimestamp
        for r in level3.filter(
            (F.col("chain_state") == "deleted")
            & (F.col("microtimestamp") >= S) & (F.col("microtimestamp") < E)
        ).select("microtimestamp").collect()
    }
    for r in ends:
        assert r.microtimestamp == datetime.fromisoformat(E) or r.microtimestamp in deaths


def test_depth_chains_reuse_ids(level3):
    ch = depth_changes_with_chains(level3)
    pdf = ch.toPandas()
    assert len(pdf) > 0
    # same |volume_change| on the same side within one (pair, era) shares an id
    pdf["absch"] = pdf["volume_change"].abs()
    one = pdf[(pdf.pair_id == 1)]
    grp = one.groupby(["side", "absch"])["chain_id"].nunique()
    # ids are allocated per (pair, era) group; within the first era they must
    # be reused for equal magnitudes
    era0 = one[one.microtimestamp < pdf.microtimestamp.min() + __import__("pandas").Timedelta(days=7)]
    grp0 = era0.groupby(["side", "absch"])["chain_id"].nunique()
    assert (grp0 == 1).all()
    # spread columns: bid < ask whenever both present (book never crossed)
    both = pdf.dropna(subset=["bid_price", "ask_price"])
    assert (both.bid_price < both.ask_price).all()


def test_match_sum_of_fills_fixture(spark):
    # one sell event with fill 5.0; two adjacent unmatched buy-side trades
    # (2.0 + 3.0) at the same price — the pair must match the event
    l3 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 1), 77, 2, "s",
          100.0, 5.0, 5.0)],
        "pair_id int, era timestamp, microtimestamp timestamp, order_id long, "
        "event_no int, side string, price double, amount double, fill double",
    )
    trades = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 0, 59, 500000),
             100.0, 2.0, "b", 901),
            (1, datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 0, 59, 600000),
             100.0, 3.0, "b", 902),
        ],
        "pair_id int, era timestamp, trade_microtimestamp timestamp, "
        "price double, fill double, origination string, exchange_trade_id long",
    )
    out = match_sum_of_fills(l3, trades).orderBy("exchange_trade_id").collect()
    assert [r.exchange_trade_id for r in out] == [901, 902]
    assert all(r.order_id == 77 and r.group_size == 2 for r in out)


def test_match_sum_of_fills_rejects_wrong_sum(spark):
    l3 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 1), 77, 2, "s",
          100.0, 6.0, 6.0)],
        "pair_id int, era timestamp, microtimestamp timestamp, order_id long, "
        "event_no int, side string, price double, amount double, fill double",
    )
    trades = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 0, 59), 100.0, 2.0, "b", 901),
            (1, datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 0, 59, 100000), 100.0, 3.0, "b", 902),
        ],
        "pair_id int, era timestamp, trade_microtimestamp timestamp, "
        "price double, fill double, origination string, exchange_trade_id long",
    )
    assert match_sum_of_fills(l3, trades).count() == 0


def test_fix_crossed_books_pathological_eternal_bounded(spark):
    """The worst case for the fixpoint bound (VERDICT r6 task #5): an
    eternal crossed period whose first-crossed-instant participants all
    have later events (so the reference-verbatim first-instant delete set
    is EMPTY) while the book stays crossed to era end via a different,
    alive-forever order. Without the era-end probe the loop stalls with
    no progress; with it the proven 3-pass bound holds, and exhausting a
    too-small max_iter raises instead of returning crossed data.

    Feed: ask A1@105 (amended at t2, alive forever), bid B1@100 (sane),
    bid X@106 arriving at t1 (crosses; deleted at t2), bid Y@107 arriving
    at t2 (crosses; alive forever). Crossed from t1 through era end t2;
    at t1 every crossing order is 'chained' at the snapshot."""
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.quality import chain_audit, crossed_books
    from obadiah_spark.operators.repair import fix_crossed_books

    ERA = datetime(2024, 1, 1)
    t0, t1, t2 = (datetime(2024, 1, 1, 0, m) for m in (0, 1, 2))
    rows = [
        # (ts, oid, eno, side, price, amount, fill, next_ts, next_eno,
        #  state, price_ts, price_eno)
        (t0, 10, 1, "s", 105.0, 10.0, None, t2, 2, "chained", t0, 1),
        (t2, 10, 2, "s", 105.0, 8.0, None, None, None, "alive", t0, 1),
        (t0, 20, 1, "b", 100.0, 5.0, None, None, None, "alive", t0, 1),
        (t1, 30, 1, "b", 106.0, 3.0, None, t2, 2, "chained", t1, 1),
        (t2, 30, 2, "b", 106.0, 3.0, None, None, None, "deleted", t1, 1),
        (t2, 40, 1, "b", 107.0, 2.0, None, None, None, "alive", t2, 1),
    ]
    l3 = spark.createDataFrame(
        [(ts, oid, eno, sd, p, a, f, nts, neno, 1, 1, ts, pts, peno, st,
          ERA, 0)
         for ts, oid, eno, sd, p, a, f, nts, neno, st, pts, peno in rows],
        "microtimestamp timestamp, order_id bigint, event_no int, "
        "side string, price double, amount double, fill double, "
        "next_microtimestamp timestamp, next_event_no int, pair_id int, "
        "exchange_id int, local_timestamp timestamp, "
        "price_microtimestamp timestamp, price_event_no int, "
        "chain_state string, era timestamp, life_no int")

    cb = crossed_books(spread_fold(l3)).collect()
    assert len(cb) == 1 and cb[0].next_uncrossed is None  # truly eternal

    fixed = fix_crossed_books(l3, max_iter=3)  # the proven bound
    assert crossed_books(spread_fold(fixed)).count() == 0
    # repair adds exactly the two era-end deletes (A1 and Y), loses nothing
    assert fixed.count() == l3.count() + 2
    # chain structure survives: no duplicates, no orphans, no terminal
    # events with pointers. Same-instant chain links are the DEFINED
    # outcome of collapsing an episode window (the fold applies same-ts
    # events in event_no order; snapshot excludes a chained event whose
    # next is <= the probe), so 'bad_next_pointer' rows whose pointer
    # EQUALS their own instant are expected here — anything else is not.
    audit = chain_audit(fixed).collect()
    assert {r.issue for r in audit} <= {"bad_next_pointer"}
    same_ts = {(r.microtimestamp, r.order_id, r.event_no)
               for r in fixed.filter(
                   F.col("next_microtimestamp")
                   == F.col("microtimestamp")).collect()}
    flagged = {(r.order_id, r.event_no) for r in audit}
    assert flagged <= {(o, e) for _, o, e in same_ts}
    # a max_iter below the bound must raise, never return crossed data
    with pytest.raises(RuntimeError, match="fixpoint"):
        fix_crossed_books(l3, max_iter=1)


def test_fix_crossed_books_reaches_uncrossed_fixpoint(level3):
    """Q2: the synthetic book crosses transiently (crossing bids above the
    ask floor); after repair the level1 stream must have NO crossed periods,
    and the repair must not lose events."""
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.quality import crossed_books
    from obadiah_spark.operators.repair import fix_crossed_books

    before = crossed_books(spread_fold(level3)).count()
    if before == 0:
        pytest.skip("no crossed periods at this scale (need sf>=0.01 density)")
    fixed = fix_crossed_books(level3)
    assert crossed_books(spread_fold(fixed)).count() == 0
    assert fixed.count() == level3.count() or fixed.count() > level3.count()


def test_validate_parameters():
    validate_parameters("2024-01-01 00:00:00", "2024-01-31 00:00:00")
    with pytest.raises(ValueError):
        validate_parameters("2024-01-01 00:00:00", "2024-03-15 00:00:00")
    with pytest.raises(ValueError):
        validate_parameters("2024-02-01 00:00:00", "2024-01-01 00:00:00")


def test_fix_chain_integrity_round_trip(level3):
    """corrupt → fix == original, and the audit sees the injected defects
    before and zero after (Q4 repair trio,
    db/obanalytics_schema.sql:2157-2336)."""
    import pandas as pd

    from obadiah_spark.operators.quality import chain_audit
    from obadiah_spark.operators.repair import (
        corrupt_chains, fix_chain_integrity)

    bad = corrupt_chains(level3).cache()
    assert bad.count() > level3.count()          # injections landed
    issues = {r.issue for r in chain_audit(bad).select("issue").distinct().collect()}
    assert {"duplicate_event", "pointer_orphan", "dangling_alive"} <= issues

    fixed = fix_chain_integrity(bad).cache()
    assert chain_audit(fixed).count() == 0

    cols = sorted(level3.columns)
    a = level3.select(*cols).toPandas().sort_values(
        ["pair_id", "era", "order_id", "life_no", "event_no", "microtimestamp"]
    ).reset_index(drop=True)
    b = fixed.select(*cols).toPandas().sort_values(
        ["pair_id", "era", "order_id", "life_no", "event_no", "microtimestamp"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[cols], b[cols], check_dtype=False)
    bad.unpersist(); fixed.unpersist()


# (order_id, life_no, event_no, t_sec, chain_state, next_t_sec, next_event_no,
#  exchange-produced) — one era, pair 1, exchange 1
_FIX_ROWS = [
    # two generated deletes in one life: G@20 (eno 2) has an orphaned
    # exchange twin @30 and is dropped once event 1 is re-pointed at the
    # twin; G@40 (eno 3) has no twin, is pointed at, and stays
    (100, 0, 1, 10, "chained", 20, 2, True),
    (100, 0, 2, 20, "deleted", None, None, False),
    (100, 0, 2, 30, "chained", 40, 3, True),
    (100, 0, 3, 40, "deleted", None, None, False),
    # the generated delete @70 shares (ts, event_no) with the orphaned
    # twin of G@60: re-pointing event 1 at @70 un-orphans it, so it stays
    (150, 0, 1, 50, "chained", 60, 2, True),
    (150, 0, 2, 60, "deleted", None, None, False),
    (150, 0, 2, 70, "alive", None, None, True),
    (150, 0, 2, 70, "deleted", None, None, False),
    # two orphans: event 2 reconnects to the 'alive' event 1; event 3
    # stays orphaned because event 2 is 'chained', not 'alive'
    (200, 0, 1, 10, "alive", None, None, True),
    (200, 0, 2, 20, "chained", 90, 9, True),
    (200, 0, 3, 30, "alive", None, None, True),
    # a second life of the same order repairs on its own
    (200, 1, 1, 50, "alive", None, None, True),
    (200, 1, 2, 60, "alive", None, None, True),
    # duplicated event_no 2 whose event_no = 1 row is 'chained': kept
    (300, 0, 1, 10, "chained", 20, 2, True),
    (300, 0, 2, 20, "alive", None, None, True),
    (300, 0, 2, 25, "alive", None, None, True),
    # duplicated event_no 1 with an 'alive' creation: the clone goes
    (310, 0, 1, 10, "chained", 20, 2, True),
    (310, 0, 1, 47, "alive", None, None, True),
    (310, 0, 2, 20, "alive", None, None, True),
]

# frozen from the self-join implementation the per-life kernel replaced
_FIX_WANT = [
    (100, 0, 1, 10, "chained", 30, 2, True),
    (100, 0, 2, 30, "chained", 40, 3, True),
    (100, 0, 3, 40, "deleted", None, None, False),
    (150, 0, 1, 50, "chained", 70, 2, True),
    (150, 0, 2, 70, "alive", None, None, True),
    (150, 0, 2, 70, "deleted", None, None, False),
    (200, 0, 1, 10, "chained", 20, 2, True),
    (200, 0, 2, 20, "chained", 90, 9, True),
    (200, 0, 3, 30, "alive", None, None, True),
    (200, 1, 1, 50, "chained", 60, 2, True),
    (200, 1, 2, 60, "alive", None, None, True),
    (300, 0, 1, 10, "chained", 20, 2, True),
    (300, 0, 2, 20, "alive", None, None, True),
    (300, 0, 2, 25, "alive", None, None, True),
    (310, 0, 1, 10, "chained", 20, 2, True),
    (310, 0, 2, 20, "alive", None, None, True),
]


def test_fix_chain_integrity_hand_built_lives(spark):
    """The Q4 trio's general rules, beyond the fabric round trip: premature
    deletes are re-pointed before a generated delete is judged orphaned,
    eternals reconnect only from an 'alive' event_no − 1, and a duplicate
    life loses only its 'alive' event_no = 1 creation."""
    from datetime import timedelta

    from obadiah_spark.operators.repair import fix_chain_integrity

    era = datetime(2024, 1, 1)

    def ts(sec):
        return None if sec is None else era + timedelta(seconds=sec)

    l3 = spark.createDataFrame(
        [(ts(t), oid, eno, "b", 100.0, 1.0, None, ts(nt), neno, 1, 1,
          ts(t) if exch else None, ts(t), 1, st, era, life)
         for oid, life, eno, t, st, nt, neno, exch in _FIX_ROWS],
        "microtimestamp timestamp, order_id bigint, event_no int, "
        "side string, price double, amount double, fill double, "
        "next_microtimestamp timestamp, next_event_no int, pair_id int, "
        "exchange_id int, local_timestamp timestamp, "
        "price_microtimestamp timestamp, price_event_no int, "
        "chain_state string, era timestamp, life_no int")
    fixed = fix_chain_integrity(l3)
    assert fixed.columns == l3.columns

    def key(row):
        return tuple((x is None, x) for x in row)

    got = sorted((
        (r.order_id, r.life_no, r.event_no,
         int((r.microtimestamp - era).total_seconds()), r.chain_state,
         None if r.next_microtimestamp is None
         else int((r.next_microtimestamp - era).total_seconds()),
         r.next_event_no, r.local_timestamp is not None)
        for r in fixed.collect()), key=key)
    assert got == sorted(_FIX_WANT, key=key)
