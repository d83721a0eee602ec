"""Book set-operations + by-episode book stream (SURVEY §2.2 I2/I3, §2.3 B2).

Reference parity:
- I2 ``bitfinex._diff_order_books`` — full-outer join of two snapshots on
  order_id → synthesized delete (price=0) / insert / change diff events
  (reference db/bitfinex_schema.sql:83-118).
- I3 ``bitfinex._update_order_book`` — apply a diff to a snapshot via
  full-outer join + coalesce (reference db/bitfinex_schema.sql:243-270).
  Invariant (tested): update(b, diff(b, a)) == a.
- B2 ``order_book_by_episode`` — the running per-episode book stream
  (reference db/obanalytics_schema.sql:2084-2126). The full order-level
  stream is the fold's internal state; the queryable surface here is the
  per-episode per-side book summary (level count, total volume, best price),
  whose linear oracle comes from the episode×level grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from obadiah_spark.fold import EpisodeFolder, period_fold

_BOOK_COLS = ["pair_id", "order_id", "side", "price", "amount"]


def diff_order_books(before: DataFrame, after: DataFrame) -> DataFrame:
    """I2: events that transform ``before`` into ``after``; deletions carry
    price=0 (the reference's R0-feed deletion convention)."""
    b = before.select([F.col(c).alias(f"b_{c}") for c in _BOOK_COLS])
    a = after.select([F.col(c).alias(f"a_{c}") for c in _BOOK_COLS])
    j = b.join(a, (F.col("b_pair_id") == F.col("a_pair_id"))
               & (F.col("b_order_id") == F.col("a_order_id")), "full_outer")
    changed = (
        (F.col("a_price").isNotNull() & F.col("b_price").isNotNull()
         & (F.col("a_price") != F.col("b_price")))
        | (F.col("a_amount").isNotNull() & F.col("b_amount").isNotNull()
           & (F.col("a_amount") != F.col("b_amount")))
        | (F.col("a_price").isNull() & (F.col("b_price") > 0))
        | (F.col("a_price") > 0) & F.col("b_price").isNull()
    )
    return j.filter(changed).select(
        F.coalesce("a_pair_id", "b_pair_id").alias("pair_id"),
        F.coalesce("a_order_id", "b_order_id").alias("order_id"),
        F.coalesce("a_side", "b_side").alias("side"),
        F.coalesce("a_price", F.lit(0.0)).alias("price"),
        F.coalesce("a_amount", "b_amount").alias("amount"),
    )


def update_order_book(book: DataFrame, update: DataFrame) -> DataFrame:
    """I3: apply a diff; price=0 rows delete the order."""
    b = book.filter(F.col("price") > 0).select(
        [F.col(c).alias(f"b_{c}") for c in _BOOK_COLS])
    u = update.select([F.col(c).alias(f"u_{c}") for c in _BOOK_COLS])
    j = b.join(u, (F.col("b_pair_id") == F.col("u_pair_id"))
               & (F.col("b_order_id") == F.col("u_order_id")), "full_outer")
    merged = j.select(
        F.coalesce("u_pair_id", "b_pair_id").alias("pair_id"),
        F.coalesce("u_order_id", "b_order_id").alias("order_id"),
        F.coalesce("u_side", "b_side").alias("side"),
        F.coalesce("u_price", "b_price").alias("price"),
        F.coalesce("u_amount", "b_amount").alias("amount"),
    )
    return merged.filter(F.col("price") > 0)


BOOK_EPISODE_SCHEMA = (
    "pair_id int, microtimestamp timestamp, side string, "
    "n_levels bigint, volume double, best_price double"
)


class _BookEpisodeFolder(EpisodeFolder):
    OUT_COLS = ("pair_id", "microtimestamp", "side", "n_levels",
                "volume", "best_price")

    def on_episode(self, ts) -> None:
        if not self.changed_levels():
            return
        out = self.out
        for side in ("b", "s"):
            lv = [(p, q) for (s_, p), q in self.book.levels.items() if s_ == side]
            if not lv:
                continue
            out["pair_id"].append(self.pair_id)
            out["microtimestamp"].append(ts)
            out["side"].append(side)
            out["n_levels"].append(len(lv))
            # exact-quarter sums are order-independent
            out["volume"].append(sum(q for _, q in lv))
            out["best_price"].append(max(p for p, _ in lv) if side == "b"
                                     else min(p for p, _ in lv))


def book_by_episode(l3: DataFrame) -> DataFrame:
    """B2 surface: per change-episode per-side book summary from the fold."""
    return period_fold(l3, _BookEpisodeFolder, BOOK_EPISODE_SCHEMA, None)


def book_by_episode_oracle_sql() -> str:
    """Linear oracle from the episode×level grid (exact-quarter volume sums
    are order-independent, so a plain sum matches the fold)."""
    from obadiah_spark.operators.depth import SPREAD_L1_CTES

    return f"""
WITH {SPREAD_L1_CTES}
SELECT pair_id, ts AS microtimestamp, side,
       count(*) AS n_levels,
       sum(volume) AS volume,
       CASE side WHEN 'b' THEN max(price) ELSE min(price) END AS best_price
FROM vol
WHERE volume > 0
GROUP BY pair_id, era, ts, side
"""
