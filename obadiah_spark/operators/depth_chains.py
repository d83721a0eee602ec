"""D10 ``depth.changes`` — depth updates → changes with heuristic chain ids.

Reference parity: Rcpp ``DepthChanges`` (src/order_book_investigation.h:277-355;
R wrapper R/obanalytics.R:323-334): each level change gets
- ``volume_change`` = new level volume − current book volume at that price,
- a ``chain_id`` linking related changes: per side, a map |change| → id; an
  unseen |change| magnitude allocates the next id (ids shared across both
  sides' maps via one counter),
- the prevailing best bid/ask AT EPISODE START (spread before the episode's
  updates are applied).

Spark-first decomposition (and why it beats the sequential port): the
reference allocates ids with a running counter — inherently serial. But the
id of key k = (side, |change|) is fully determined by the ORDER OF FIRST
OCCURRENCE of keys in the deterministic change stream (events in
(microtimestamp, order_id, event_no); changed levels in sorted (side, price)
within an episode). So

    chain_id(k) = dense_rank of k's first-occurrence (ts, side, price)
                  among all keys of the (pair, era)

which splits the operator into (a) a period-parallel book fold emitting
changes + pre-episode spread (no cross-period state beyond the seeded book),
(b) one map-side-combinable groupBy to find each key's first occurrence,
(c) a dense_rank window over the SMALL key set (cardinality = #distinct
change magnitudes, not #changes), (d) an equi-join back. Parallelism of the
heavy fold = #periods; the only per-era serial step is the tiny key rank.
This form is window-expressible in SQL — the operator is fully
oracle-checked (it was rows-only when the ids came from a runtime counter).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from obadiah_spark.fold import EpisodeFolder, period_fold

DEPTH_CHAINS_FOLD_SCHEMA = (
    "pair_id int, exchange_id int, era timestamp, microtimestamp timestamp, "
    "side string, price double, volume double, volume_change double, "
    "bid_price double, ask_price double"
)


class _DepthChangesPreSpreadFolder(EpisodeFolder):
    """Changes + pre-episode spread; chain ids are assigned relationally
    afterwards (see module docstring). exchange_id rides along so the id
    allocation stays scoped per exchange (the fold groups on it already)."""

    OUT_COLS = ("pair_id", "exchange_id", "era", "microtimestamp", "side",
                "price", "volume", "volume_change", "bid_price", "ask_price")

    def __init__(self, meta: pd.Series) -> None:
        super().__init__(meta)
        self.exchange_id = int(meta["exchange_id"])
        self._pre_bb = None
        self._pre_ba = None

    def on_episode_start(self, ts) -> None:
        # spread BEFORE this episode's updates are applied (for the first
        # episode after a period seed this reads the seeded book — exactly
        # the end-of-previous-period state the unsplit fold would hold)
        self._pre_bb = self.book.best("b")[0]
        self._pre_ba = self.book.best("s")[0]

    def on_episode(self, ts) -> None:
        out = self.out
        for key, vol, prev in self.changed_levels():
            out["pair_id"].append(self.pair_id)
            out["exchange_id"].append(self.exchange_id)
            out["era"].append(self.era)
            out["microtimestamp"].append(ts)
            out["side"].append(key[0])
            out["price"].append(key[1])
            out["volume"].append(vol)
            out["volume_change"].append(vol - prev)
            out["bid_price"].append(self._pre_bb)
            out["ask_price"].append(self._pre_ba)


def depth_changes_with_chains(l3: DataFrame,
                              period_s: int | None = 86400) -> DataFrame:
    folded = period_fold(l3, _DepthChangesPreSpreadFolder,
                         DEPTH_CHAINS_FOLD_SCHEMA, period_s)
    # the fold output feeds BOTH the key-ranking aggregate and the join
    # back — materialize it once so the expensive period-parallel fold
    # doesn't run twice, and so the join sides have runtime stats (AQE
    # broadcasts the small ranked side instead of shuffling the changes)
    folded = folded.localCheckpoint(eager=True)
    # first occurrence per key (side, |change|): one combinable groupBy
    # (renamed keys — ranked shares lineage with folded, so same-name join
    # conditions would be ambiguous)
    keys = (
        folded.groupBy(
            F.col("pair_id").alias("k_pair"),
            F.col("exchange_id").alias("k_exch"),
            F.col("era").alias("k_era"),
            F.col("side").alias("k_side"), F.abs("volume_change").alias("k_mag"))
        .agg(F.min(F.struct("microtimestamp", "side", "price")).alias("_first"))
    )
    # dense_rank over the small key set = the reference's counter allocation
    ranked = keys.withColumn(
        "chain_id",
        F.dense_rank().over(
            W.partitionBy("k_pair", "k_exch", "k_era")
            .orderBy("_first")).cast("bigint"),
    ).drop("_first")
    # exchange_id stays in the output: chain ids are scoped per (pair,
    # exchange, era), so a pair listed on two exchanges has two independent
    # id spaces — without the column consumers could not disambiguate them.
    # (The reference's R client drops it because a connection is
    # single-exchange; the ORACLE below still assumes one exchange.)
    return (
        folded.join(
            ranked,
            (F.col("pair_id") == F.col("k_pair"))
            & (F.col("exchange_id") == F.col("k_exch"))
            & (F.col("era") == F.col("k_era"))
            & (F.col("side") == F.col("k_side"))
            & (F.abs(F.col("volume_change")) == F.col("k_mag")),
        )
        .select(
            "pair_id", "exchange_id", "era", "microtimestamp", "side",
            "price", "volume", "volume_change", "chain_id",
            "bid_price", "ask_price",
        )
    )


def depth_chains_oracle_sql() -> str:
    """Full DuckDB mirror: change stream + running volume
    (DEPTH_CHANGES_CTES), pre-episode spread as a strictly-before as-of over
    the linear l1 (probes sort before the l1 row at the same instant; the
    carried value is a STRUCT so a genuinely-NULL best side is carried as
    NULL, not skipped), chain ids via the same first-occurrence dense_rank."""
    from obadiah_spark.operators.depth import SPREAD_L1_CTES

    return f"""
WITH {SPREAD_L1_CTES}, chv AS (
    SELECT pair_id, era, microtimestamp, side, price,
           sum(volume_change) OVER (
               PARTITION BY pair_id, era, side, price ORDER BY microtimestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS volume,
           volume_change
    FROM changes
), ep AS (
    SELECT DISTINCT pair_id, era, microtimestamp FROM changes
), tl AS (
    SELECT pair_id, era, ts, 0 AS kind,
           {{'bb': best_bid_price, 'ba': best_ask_price}} AS st
    FROM l1_dedup
    UNION ALL
    SELECT pair_id, era, microtimestamp, -1, NULL FROM ep
), pre_asof AS (
    SELECT pair_id, era, ts, kind,
           last_value(st IGNORE NULLS) OVER (
               PARTITION BY pair_id, era ORDER BY ts, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
    FROM tl
), pre_spread AS (
    SELECT pair_id, era, ts AS microtimestamp,
           pre.bb AS bid_price, pre.ba AS ask_price
    FROM pre_asof WHERE kind = -1
), keys AS (
    SELECT pair_id, era, side, abs(volume_change) AS mag,
           min(ROW(microtimestamp, side, price)) AS first_occ
    FROM chv GROUP BY pair_id, era, side, abs(volume_change)
), ranked AS (
    SELECT pair_id, era, side, mag,
           dense_rank() OVER (PARTITION BY pair_id, era ORDER BY first_occ)
               AS chain_id
    FROM keys
)
SELECT c.pair_id, x.exchange_id, c.era, c.microtimestamp, c.side, c.price,
       c.volume, c.volume_change, r.chain_id, p.bid_price, p.ask_price
FROM chv c
JOIN ranked r
  ON r.pair_id = c.pair_id AND r.era = c.era AND r.side = c.side
 AND r.mag = abs(c.volume_change)
JOIN pre_spread p
  ON p.pair_id = c.pair_id AND p.era = c.era
 AND p.microtimestamp = c.microtimestamp
CROSS JOIN (SELECT DISTINCT CAST(exchange_id AS INT) AS exchange_id
            FROM level3) x
"""
