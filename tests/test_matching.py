"""Closed-loop matcher test: strip the event links from matches, re-match
against level3, and verify the recovered links equal the originals wherever
the trade's (price, fill, side, episode) signature is unambiguous."""

from __future__ import annotations

from pyspark.sql import functions as F

from obadiah_spark.operators.matching import (
    match_price_and_fill_exact,
    match_sum_of_fills,
)


def test_match_fill_exact_recovers_links(spark, level3):
    matches = spark.table("matches")
    trades = matches.select(
        "pair_id", "era",
        F.col("microtimestamp").alias("trade_microtimestamp"),
        "price", F.col("amount").alias("fill"),
        F.col("side").alias("origination"), "exchange_trade_id",
    )
    rec = match_price_and_fill_exact(level3, trades)

    # original maker link per trade (matches carry exactly one linked side)
    orig = matches.select(
        "exchange_trade_id", "pair_id",
        F.coalesce("buy_order_id", "sell_order_id").alias("orig_order_id"),
        F.coalesce("buy_event_no", "sell_event_no").alias("orig_event_no"),
        "microtimestamp", "price", F.col("amount").alias("fill"), "side",
    )
    # trades whose signature is unique within their episode cannot be confused
    w = F.count(F.lit(1)).over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
            "pair_id", "microtimestamp", "price", "fill", "side"))
    unambiguous = orig.withColumn("_n", w).filter("_n = 1").drop("_n")

    j = unambiguous.join(rec, ["pair_id", "exchange_trade_id"], "inner")
    n_unamb = unambiguous.count()
    n_joined = j.count()
    assert n_joined == n_unamb, f"unambiguous trades not all matched: {n_joined}/{n_unamb}"
    wrong = j.filter(
        (F.col("orig_order_id") != F.col("order_id"))
        | (F.col("orig_event_no") != F.col("event_no"))
    )
    assert wrong.count() == 0

    # global sanity: every trade matched at most once, decent coverage
    total = matches.count()
    recovered = rec.count()
    assert rec.groupBy("pair_id", "exchange_trade_id").count().filter("count > 1").count() == 0
    assert recovered >= 0.7 * total, f"low recovery: {recovered}/{total}"


def test_match_sum_of_fills_recovers_non_consecutive_subset(spark):
    """An event whose fill equals the sum of a NON-consecutive subset of a
    set ({1st, 3rd} of three adjacent same-price trades) must be matched —
    the reference's recursive CTE enumerates arbitrary increasing subsets
    (db/bitfinex_schema.sql:202-214), not just consecutive runs."""
    import datetime as dt

    base = dt.datetime(2024, 1, 10, 12, 0, 0)
    era = dt.datetime(2024, 1, 8)
    us = dt.timedelta(microseconds=1)
    trades = spark.createDataFrame(
        [
            # set of three adjacent sells at 100.0: fills 1.0, 9.0, 2.0
            (1, era, base + 0 * us, 100.0, 1.0, "s", 101),
            (1, era, base + 1 * us, 100.0, 9.0, "s", 102),
            (1, era, base + 2 * us, 100.0, 2.0, "s", 103),
        ],
        "pair_id int, era timestamp, trade_microtimestamp timestamp, "
        "price double, fill double, origination string, exchange_trade_id bigint",
    )
    # one buy event with fill 3.0 = 1.0 + 2.0 (trades 101 + 103, skipping 102)
    l3 = spark.createDataFrame(
        [(1, era, base + 10 * us, 7, 1, "b", 100.0, 5.0, 3.0)],
        "pair_id int, era timestamp, microtimestamp timestamp, order_id bigint, "
        "event_no int, side string, price double, amount double, fill double",
    )
    out = match_sum_of_fills(l3, trades).orderBy("exchange_trade_id").collect()
    assert [r.exchange_trade_id for r in out] == [101, 103]
    assert all(r.order_id == 7 and r.group_size == 2 for r in out)


def test_match_rule_sql_codes(spark):
    """F7 codes of the SQL rule, equal to the Column form's, on every
    branch — exact, within tolerance, unknown fill, the deleted zero-fill
    exchange bug, no match — and on NULL inputs, at tolerances on both
    sides of the 2.05-vs-2.0 gap."""
    from obadiah_spark.operators.matching import match_rule, match_rule_sql

    rows = [
        # t_amount, t_price, fill, amount, is_del
        (2.0, 100.0, 2.0, 5.0, False),      # exact
        (2.0, 100.0, 2.00005, 5.0, False),  # within 0.0001 * price
        (2.0, 100.0, 2.05, 5.0, False),     # within 0.1 * price only
        (2.0, 100.0, None, 5.0, False),     # unknown fill
        (2.0, 100.0, 0.0, 2.0, True),       # deleted, zero fill
        (2.0, 100.0, 0.0, 2.0, False),      # zero fill, not deleted
        (2.0, 100.0, 7.0, 9.0, True),       # nothing
        (None, 100.0, 2.0, 5.0, None),      # NULL trade amount
    ]
    want = {0.0001: [0, 1, None, 2, 3, None, None, None],
            0.1: [0, 1, 1, 2, 3, None, None, None]}
    df = spark.createDataFrame(
        rows, "t_amount double, t_price double, fill double, "
              "amount double, is_del boolean")
    for tol, codes in want.items():
        col = match_rule(F.col("t_amount"), F.col("t_price"), F.col("amount"),
                         F.col("fill"), F.col("is_del"),
                         F.lit(tol) * F.col("t_price"))
        got = df.select(F.expr(match_rule_sql("", tol)).alias("sql"),
                        col.alias("col")).collect()
        assert [r.sql for r in got] == codes, tol
        assert [r.col for r in got] == codes, tol
