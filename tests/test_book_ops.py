"""I2/I3 invariant: update(before, diff(before, after)) == after, using two
real snapshots of the synthetic book 3 days apart."""

from __future__ import annotations

from obadiah_spark.operators.book_ops import diff_order_books, update_order_book
from obadiah_spark.operators.order_book import live_at
from tools.verify_local import compare

COLS = ["pair_id", "order_id", "side", "price", "amount"]


def test_diff_then_update_roundtrip(level3):
    before = live_at(level3, "2024-01-10 00:00:00").select(*COLS)
    after = live_at(level3, "2024-01-13 00:00:00").select(*COLS)
    assert before.count() > 0 and after.count() > 0
    diff = diff_order_books(before, after)
    rebuilt = update_order_book(before, diff)
    assert not compare("roundtrip", rebuilt.toPandas(), after.toPandas())


def test_diff_is_minimal(level3):
    book = live_at(level3, "2024-01-10 00:00:00").select(*COLS)
    assert diff_order_books(book, book).count() == 0


def test_order_book_side_filters_are_per_side(spark, level3):
    """A bids-only bound (min_bid) must trim bids and leave the ask book
    whole — and symmetrically for max_ask (reference p_min_bid_price /
    p_max_ask_price are per-side constraints)."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.order_book import order_book

    at = "2024-01-17 12:00:00"
    base = order_book(level3, at).cache()
    n_asks = base.filter("side = 's'").count()
    n_bids = base.filter("side = 'b'").count()
    assert n_asks > 0 and n_bids > 0

    some_bid = base.filter("side = 'b'").agg(
        F.max("price")).first()[0]
    only_min = order_book(level3, at, min_bid=some_bid)
    # the whole ask book survives a bids-only bound
    assert only_min.filter("side = 's'").count() == n_asks
    assert only_min.filter("side = 'b'").count() >= 1
    assert only_min.filter(
        (F.col("side") == "b") & (F.col("price") < some_bid)).count() == 0

    some_ask = base.filter("side = 's'").agg(F.min("price")).first()[0]
    only_max = order_book(level3, at, max_ask=some_ask)
    assert only_max.filter("side = 'b'").count() == n_bids
    assert only_max.filter(
        (F.col("side") == "s") & (F.col("price") > some_ask)).count() == 0
    base.unpersist()
