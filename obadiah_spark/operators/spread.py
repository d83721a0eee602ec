"""Best bid/ask (level1) stream derivation.

Reference parity:
- D7 ``spread_by_episode_slow`` — declarative spread: per-episode snapshot →
  best bid/ask, dedup-on-change via lag compare
  (reference db/obanalytics_schema.sql:2467-2501).
- D6 ``spread_by_episode_fast`` — the C fold emitting level1 only on change
  (reference db/c/obadiah_db/obadiah_db.cpp:270-363) → implemented Spark-side
  as the ordered per-(pair, era) fold in ``obadiah_spark.fold`` (see
  fold-based ``spread_fold``), which is the 100 TB path.

The declarative form below joins every episode against the events alive at
it — O(episodes × live set). It is correct and is the differential-testing
oracle shape; at scale prefer ``spread_fold``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def spread_slow(l3: DataFrame) -> DataFrame:
    """Declarative emit-on-change level1 stream for the whole log."""
    eps = l3.select("pair_id", "era", F.col("microtimestamp").alias("ts")).distinct()
    l = l3.select(
        F.col("pair_id").alias("l_pair_id"), F.col("era").alias("l_era"),
        "microtimestamp", "next_microtimestamp", "chain_state", "side", "price", "amount",
    )
    live = eps.join(
        l,
        (eps.pair_id == l.l_pair_id)
        & (eps.era == l.l_era)
        & (l.microtimestamp <= eps.ts)
        & (
            (l.chain_state == "alive")
            | ((l.chain_state == "chained") & (l.next_microtimestamp > eps.ts))
        ),
        "inner",
    )
    lvl = live.groupBy("pair_id", "era", "ts", "side", "price").agg(
        F.sum("amount").alias("qty")
    )
    best = lvl.groupBy("pair_id", "era", "ts").agg(
        F.max(F.when(F.col("side") == "b", F.col("price"))).alias("best_bid_price"),
        F.min(F.when(F.col("side") == "s", F.col("price"))).alias("best_ask_price"),
    )
    joined = (
        best.join(lvl, ["pair_id", "era", "ts"])
        .groupBy("pair_id", "era", "ts", "best_bid_price", "best_ask_price")
        .agg(
            F.max(
                F.when(
                    (F.col("side") == "b") & (F.col("price") == F.col("best_bid_price")),
                    F.col("qty"),
                )
            ).alias("best_bid_qty"),
            F.max(
                F.when(
                    (F.col("side") == "s") & (F.col("price") == F.col("best_ask_price")),
                    F.col("qty"),
                )
            ).alias("best_ask_qty"),
        )
    )
    w = W.partitionBy("pair_id", "era").orderBy("ts")
    changed = (
        ~F.col("best_bid_price").eqNullSafe(F.lag("best_bid_price").over(w))
        | ~F.col("best_bid_qty").eqNullSafe(F.lag("best_bid_qty").over(w))
        | ~F.col("best_ask_price").eqNullSafe(F.lag("best_ask_price").over(w))
        | ~F.col("best_ask_qty").eqNullSafe(F.lag("best_ask_qty").over(w))
    )
    return (
        joined.withColumn("_changed", changed)
        .filter("_changed")
        .select(
            "pair_id", F.col("ts").alias("microtimestamp"),
            "best_bid_price", "best_bid_qty", "best_ask_price", "best_ask_qty",
        )
    )
