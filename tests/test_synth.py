"""The synthesized level3 log must (a) be identical on Spark and DuckDB —
it is the foundation of every oracle — and (b) satisfy the reference's
declared chain invariants (db/obanalytics_schema.sql:146-151, 2346-2426),
now per-life: chains restart at each reincarnation (reference
reincarnation_no, db/bitfinex_schema.sql:408-417)."""

from __future__ import annotations

from obadiah_spark.synth import LEVEL3_BODY_SQL
from tools.verify_local import compare


def test_level3_identical_on_both_engines(spark, duck, level3):
    spark_pdf = level3.toPandas()
    duck_pdf = duck.sql(LEVEL3_BODY_SQL).df()
    problems = compare("level3", spark_pdf, duck_pdf)
    assert not problems, "\n".join(problems)


def test_chain_invariants(level3):
    from pyspark.sql import functions as F

    l3 = level3
    # price/amount ≥ 0
    assert l3.filter((F.col("price") <= 0) | (F.col("amount") < 0)).count() == 0
    # (order_id, era, life_no, event_no) unique
    dup = (
        l3.groupBy("order_id", "era", "life_no", "event_no")
        .count().filter("count > 1")
    )
    assert dup.count() == 0
    # chained events: next_microtimestamp strictly after and next_event_no = event_no + 1
    bad_next = l3.filter(
        (F.col("chain_state") == "chained")
        & (
            F.col("next_microtimestamp").isNull()
            | (F.col("next_microtimestamp") <= F.col("microtimestamp"))
            | (F.col("next_event_no") != F.col("event_no") + 1)
        )
    )
    assert bad_next.count() == 0
    # terminal events carry no next pointer
    bad_term = l3.filter(
        F.col("chain_state").isin("alive", "deleted") & F.col("next_microtimestamp").isNotNull()
    )
    assert bad_term.count() == 0
    # no orphans: every event_no > 1 has a predecessor in the same life
    a = l3.alias("a")
    b = l3.alias("b")
    orphans = a.filter("a.event_no > 1").join(
        b,
        (F.col("a.order_id") == F.col("b.order_id"))
        & (F.col("a.era") == F.col("b.era"))
        & (F.col("a.life_no") == F.col("b.life_no"))
        & (F.col("a.event_no") == F.col("b.event_no") + 1),
        "left_anti",
    )
    assert orphans.count() == 0
    # eras: chains never span eras (era = week of microtimestamp by construction)
    bad_era = l3.filter(F.date_trunc("week", F.col("microtimestamp")) != F.col("era"))
    assert bad_era.count() == 0
    # fill: first event of a life and delete events have no fill
    w_bad = l3.filter("(event_no = 1 OR chain_state = 'deleted') AND fill IS NOT NULL")
    assert w_bad.count() == 0


def _require_density(level3):
    """The enrichment phenomena need a few events per (order, era); below
    ~5k events (sf0.001) they are structurally absent. The driver gate runs
    at sf0.01 where all counts are comfortably non-zero (377 / 1779 / 53 at
    the time of writing)."""
    import pytest

    if level3.count() < 5000:
        pytest.skip("needs sf>=0.01 density (OBADIAH_TEST_SF_DIR=/root/testdata/sf0.01)")


def test_enrichment_not_vacuous(level3):
    """The r2 verdict's blind spots: the generator must actually produce
    price changes, reincarnations, and crossed episodes so the pacman /
    crossed-books / price-chain code paths run against real rows."""
    from pyspark.sql import functions as F

    _require_density(level3)
    l3 = level3
    # price chains: some lives have > 1 price group
    multi_price = (
        l3.groupBy("order_id", "era", "life_no")
        .agg(F.countDistinct("price_microtimestamp").alias("n"))
        .filter("n > 1")
    )
    assert multi_price.count() > 0
    # price_event_no is no longer the constant 1
    assert l3.filter("price_event_no > 1").count() > 0
    # reincarnation: some orders have lives beyond the first
    assert l3.filter("life_no > 0").count() > 0
    # mid-era deletes exist (not only era-end deletes)
    mid_del = l3.filter(
        (F.col("chain_state") == "deleted") & (F.col("life_no") == 0)
        & (F.col("order_id") % 12 == 7)
    )
    assert mid_del.count() > 0
    # crossing bids exist at 100.07, above the 100.05 ask floor
    assert l3.filter("side = 'b' AND price > 100.05").count() > 0


def test_crossed_books_detects_synth_crossings(spark, level3):
    """End to end: the level1 stream derived from the enriched level3 has
    crossed periods and Q1 reports them."""
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.quality import crossed_books

    _require_density(level3)
    out = crossed_books(spread_fold(level3))
    assert out.count() > 0
