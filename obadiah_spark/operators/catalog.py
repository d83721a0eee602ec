"""Catalog listings + CSV export (SURVEY §2.5 E6, §2.1 SRC6).

Reference parity:
- E6 ``get.data_overview`` / ``available_exchanges/pairs`` — era catalog
  joined to the pairs/exchanges dims, last-r eras via row_number (reference
  db/get_schema.sql:165-233); ``available_period`` is the span of the
  overview's era rows.
- SRC6 ``get.export`` — events in obAnalytics CSV shape: window events ∪
  book-at-start, projected to (id, timestamps, price, volume, action,
  direction) (reference db/get_schema.sql:520-552). Timestamps here are
  epoch-µs bigints (Spark is µs-native; the reference's ms-text is an R
  precision workaround, db/get_schema.sql:93-99). ``df.write.csv`` on the
  result is the sink.

Dims are tiny → Catalyst broadcasts them; era catalog is one groupBy of
level3 (map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def _eras(l3: DataFrame) -> DataFrame:
    return l3.groupBy("exchange_id", "pair_id", "era").agg(
        F.max("microtimestamp").alias("level3")
    )


def data_overview(l3: DataFrame, spark: SparkSession, r: int | None = None) -> DataFrame:
    """E6: one row per era, newest first, optionally last ``r`` per pair."""
    eras = _eras(l3)
    pairs = F.broadcast(spark.table("pairs"))
    exchanges = F.broadcast(spark.table("exchanges"))
    w = W.partitionBy("pair_id", "exchange_id").orderBy(F.desc("era"))
    out = (
        eras.join(pairs, "pair_id").join(exchanges, "exchange_id")
        .withColumn("r", F.row_number().over(w).cast("bigint"))
        .select("pair", "pair_id", "exchange", "exchange_id", "era", "level3", "r")
    )
    if r is not None:
        out = out.filter(F.col("r") <= r)
    return out


DATA_OVERVIEW_ORACLE_BODY = """
WITH eras AS (
    SELECT exchange_id, pair_id, era, max(microtimestamp) AS level3
    FROM level3 GROUP BY exchange_id, pair_id, era
)
SELECT pair, pair_id, exchange, exchange_id, era, level3,
       row_number() OVER (PARTITION BY pair_id, exchange_id ORDER BY era DESC) AS r
FROM eras JOIN pairs USING (pair_id) JOIN exchanges USING (exchange_id)
"""


def export(l3: DataFrame, start: str, end: str) -> DataFrame:
    """SRC6: obAnalytics event export over (start, end]."""
    from obadiah_spark.operators.events import active_events

    return active_events(l3, start, end).select(
        "pair_id",
        F.col("order_id").alias("id"),
        F.unix_micros("microtimestamp").alias("ts_us"),
        F.unix_micros("price_microtimestamp").alias("exchange_ts_us"),
        "price",
        F.round(F.col("amount"), 8).alias("volume"),
        F.when((F.col("event_no") == 1) & ~F.col("is_deleted_event"), "created")
        .when((F.col("event_no") > 1) & ~F.col("is_deleted_event"), "changed")
        .when(F.col("is_deleted_event"), "deleted").alias("action"),
        F.when(F.col("side") == "b", "bid").otherwise("ask").alias("direction"),
    )


def export_oracle_sql(start: str, end: str) -> str:
    return f"""
WITH active AS (
    SELECT pair_id, microtimestamp, order_id, event_no,
           chain_state = 'deleted' AS is_deleted_event,
           side, price, amount, price_microtimestamp
    FROM level3
    WHERE microtimestamp > TIMESTAMP '{start}'
      AND microtimestamp <= TIMESTAMP '{end}'
      AND NOT (amount = 0 AND event_no = 1 AND chain_state <> 'deleted')
    UNION ALL
    SELECT pair_id, microtimestamp, order_id, event_no, false,
           side, price, amount, price_microtimestamp
    FROM level3 l
    WHERE microtimestamp <= TIMESTAMP '{start}'
      AND era = (SELECT max(era) FROM level3 x
                 WHERE x.pair_id = l.pair_id AND x.era <= TIMESTAMP '{start}')
      AND (chain_state = 'alive'
           OR (chain_state = 'chained' AND next_microtimestamp > TIMESTAMP '{start}'))
)
SELECT pair_id, order_id AS id,
       epoch_us(microtimestamp) AS ts_us,
       epoch_us(price_microtimestamp) AS exchange_ts_us,
       price, round(amount, 8) AS volume,
       CASE WHEN event_no = 1 AND NOT is_deleted_event THEN 'created'
            WHEN event_no > 1 AND NOT is_deleted_event THEN 'changed'
            WHEN is_deleted_event THEN 'deleted' END AS action,
       CASE side WHEN 'b' THEN 'bid' ELSE 'ask' END AS direction
FROM active
"""


def available_exchanges(l3: DataFrame, spark: SparkSession) -> DataFrame:
    """E6 ``get.available_exchanges``: exchanges with data
    (db/get_schema.sql:165-176)."""
    return (l3.select("exchange_id").distinct()
            .join(F.broadcast(spark.table("exchanges")), "exchange_id")
            .select("exchange"))


def available_pairs(l3: DataFrame, spark: SparkSession,
                    exchange: str | None = None) -> DataFrame:
    """E6 ``get.available_pairs``: pairs with data, optionally for one
    exchange (db/get_schema.sql:178-192)."""
    d = l3.select("exchange_id", "pair_id").distinct()
    if exchange is not None:
        ex = spark.table("exchanges").filter(F.lower("exchange") == exchange.lower())
        d = d.join(F.broadcast(ex), "exchange_id")
    return (d.join(F.broadcast(spark.table("pairs")), "pair_id")
            .select("pair").distinct())


def pair_id(spark: SparkSession, pair: str) -> int:
    """F8 ``get.pair_id``: case-insensitive name → id
    (db/get_schema.sql:509-514)."""
    rows = (spark.table("pairs")
            .filter(F.upper("pair") == pair.upper()).select("pair_id").collect())
    if not rows:
        raise KeyError(f"unknown pair {pair!r}")
    return rows[0].pair_id


def exchange_id(spark: SparkSession, exchange: str) -> int:
    """F8 ``get.exchange_id`` (db/get_schema.sql:612-617)."""
    rows = (spark.table("exchanges")
            .filter(F.lower("exchange") == exchange.lower())
            .select("exchange_id").collect())
    if not rows:
        raise KeyError(f"unknown exchange {exchange!r}")
    return rows[0].exchange_id
