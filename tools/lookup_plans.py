"""Optimized logical plans of the as-of lookup operators, for diffing trees.

Builds the perfbench lookup store (10,000 events, seed 1: silver level3 plus
the daily book-checkpoint table, checkpoint cache seeded from it), then
builds each lookup request the way perfbench does, plus the as-of operators
perfbench does not call, and writes ``{name: optimized logical plan}`` to a
JSON file with expression ids (``#123`` -> ``#``) and the physical plan ids
of cached subtrees (``plan_id=45`` -> ``plan_id=``) normalized. Nothing is
collected; only the silver store is written.

Run it on two checkouts with the same WORK_DIR (plans print file paths) and
compare the two JSON files: a refactor that claims to leave plans as they
were must give equal texts.

Usage: python tools/lookup_plans.py WORK_DIR OUT_JSON
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

A, B = "2024-01-12 13:00:00", "2024-01-13 01:00:00"
ERA_START = "2024-01-08 00:00:00"


def requests(spark, l3, ckpt: str) -> dict:
    from pyspark.sql import functions as F

    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.catalog import export
    from obadiah_spark.operators.depth import get_depth, get_spread, spread_at
    from obadiah_spark.operators.events import get_events, get_trades
    from obadiah_spark.operators.order_book import (
        order_book, snapshot, snapshot_from_silver, snapshot_multi)
    from obadiah_spark.operators.quality import invalid_takers
    from obadiah_spark.operators.resample import queues
    from obadiah_spark.operators.trading import (
        effective_spread_at, mid_price, trading_period_fold, trading_strategy)
    from oracles import STRATEGY_PHI

    matches = spark.table("matches")
    instants = spark.createDataFrame(
        [(A,), (ERA_START,)], "s string").select(
        F.col("s").cast("timestamp").alias("at_ts"))
    mid = mid_price(spread_fold(l3))
    return {
        # the eight perfbench lookup kinds
        "order_book": order_book(
            l3, A, live=snapshot_from_silver(l3, ckpt, A, only_makers=True)),
        "spread_at": spread_at(l3, A),
        "get_spread": get_spread(l3, spread_fold(l3), A, B),
        "get_depth": get_depth(l3, A, B),
        "get_events": get_events(l3, spread_fold(l3), matches, A, B),
        "get_trades": get_trades(matches, A, B),
        "queues": queues(l3),
        "trading_strategy": trading_strategy(
            mid.select("pair_id", "era", "microtimestamp",
                       F.col("price").alias("bid_price"),
                       F.col("price").alias("ask_price")),
            phi=STRATEGY_PHI),
        # the other as-of readers
        "get_spread_f300": get_spread(l3, spread_fold(l3), A, B,
                                      frequency_s=300),
        "get_depth_f300": get_depth(l3, A, B, frequency_s=300),
        "get_events_f300": get_events(l3, spread_fold(l3), matches, A, B,
                                      frequency_s=300),
        "export": export(l3, A, B),
        "effective_spread_at": effective_spread_at(l3, A, volume=2.5),
        "trading_period_range": trading_period_fold(l3, start=A, end=B),
        "invalid_takers": invalid_takers(l3, instants),
        "snapshot_multi": snapshot_multi(l3, instants),
        "snapshot_before_era_start": snapshot(l3, ERA_START, before=True),
        "order_book_full_scan": order_book(l3, A),
        # a period fold whose checkpoints are derived, not seeded
        "queues_6h_unseeded": queues(l3, period_s=6 * 3600),
    }


def main() -> int:
    work, out = sys.argv[1], sys.argv[2]
    import gen

    from obadiah_spark.fold import book_checkpoints, seed_checkpoint_cache
    from obadiah_spark.session import get_spark
    from obadiah_spark.sources.silver import (
        read_checkpoints, read_level3, write_checkpoints, write_era_registry,
        write_level3)
    from obadiah_spark.synth import register_level3

    shutil.rmtree(work, ignore_errors=True)
    spark = get_spark("lookup_plans")
    events, silver, ckpt = (os.path.join(work, d)
                            for d in ("input", "silver", "ckpt"))
    gen.write_events(events, 10_000, 1)
    derived = register_level3(spark, events).cache()
    write_level3(derived, silver)
    write_checkpoints(book_checkpoints(derived, 86400, use_cache=False), ckpt)
    write_era_registry(derived, ckpt)
    derived.unpersist()
    l3 = read_level3(spark, silver)
    seed_checkpoint_cache(l3, 86400, read_checkpoints(spark, ckpt))

    plans = {
        name: re.sub(r"(#|plan_id=)\d+L?", r"\1",
                     df._jdf.queryExecution().optimizedPlan().toString())
        for name, df in requests(spark, l3, ckpt).items()
    }
    with open(out, "w") as fh:
        json.dump(plans, fh, indent=1, sort_keys=True)
    print(f"{len(plans)} plans written to {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
