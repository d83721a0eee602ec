"""Generic relational query surface over the driver's TPC-H-ish tables.

The reference's analytical surface is domain-specific, but the engine
underneath must be a complete relational processor (joins, grouped
aggregation, windows, top-k, sessionization). These queries exercise that
surface and demonstrate the 100 TB posture: broadcast joins for dims,
map-side partial aggregation, pushed-down filters.

Cross-engine determinism: money aggregates are summed as exact integer
cents — ``sum(cast(round(expr * 100, 0) as bigint))`` — so results are
order-independent and bit-identical between Spark and DuckDB (a plain
double sum differs between engines because partition order differs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def _cents(col) -> F.Column:
    return F.round(col * 100, 0).cast("bigint")


def q1_pricing_summary(spark: SparkSession) -> DataFrame:
    """TPC-H Q1 shape: full-scan grouped aggregation with partial (map-side)
    combine; only touched columns are read from parquet (column pruning)."""
    li = spark.table("lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(disc)).alias("sum_disc_cents"),
            F.sum(_cents(charge)).alias("sum_charge_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


Q1_ORACLE = """
SELECT
    l_returnflag, l_linestatus,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
    count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession) -> DataFrame:
    """TPC-H Q3 shape: selective join orders⋈lineitem with both filters pushed
    to the scans; top-10 by revenue."""
    orders = spark.table("orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = spark.table("lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(10)
    )
    return out


Q3_ORACLE = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, l_orderkey
LIMIT 10
"""


def q5_revenue_by_nation(spark: SparkSession) -> DataFrame:
    """TPC-H Q5 shape: star join; all dimension tables are broadcast (they
    stay small at any scale factor), so only lineitem⋈orders shuffles."""
    li = spark.table("lineitem")
    orders = spark.table("orders")
    cust = F.broadcast(spark.table("customer"))
    supp = F.broadcast(spark.table("supplier"))
    nation = F.broadcast(spark.table("nation"))
    region = F.broadcast(spark.table("region"))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "n_name")
    )
    return out


Q5_ORACLE = """
SELECT n_name, r_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
ORDER BY revenue_cents DESC, n_name
"""


def topk_orders_per_customer(spark: SparkSession, k: int = 3) -> DataFrame:
    """Top-k per group via ranked window — the scalable top-k idiom (no
    global sort; per-key rank then filter)."""
    orders = spark.table("orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
        .select(
            "o_custkey", "o_orderkey", "rk",
            _cents(F.col("o_totalprice")).alias("totalprice_cents"),
        )
    )


TOPK_ORACLE = """
SELECT o_custkey, o_orderkey, rk,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rk
    FROM orders) t
WHERE rk <= 3
"""


def sessionize_events(spark: SparkSession, gap_minutes: int = 30,
                      events: DataFrame | None = None) -> DataFrame:
    """Sessionization of the events stream per user: a session breaks after a
    gap > ``gap_minutes``. Gaps-and-islands = lag + cumulative sum — the same
    pattern the reference uses for eras (db/bitfinex_schema.sql:332-340) and
    crossed-book islands (db/obanalytics_schema.sql:1183-1216).
    ``events`` overrides the catalog view (tests pass a frame directly so
    they don't clobber the session-scoped ``events`` view)."""
    ev = spark.table("events") if events is None else events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    sess = (
        ev.withColumn("_new", new_sess)
        .withColumn("session_no", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
        .orderBy("user_id", "session_no")
    )


def sessionize_oracle(gap_minutes: int = 30) -> str:
    """DuckDB oracle mirroring ``sessionize_events(gap_minutes)``."""
    return """
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM (
    SELECT user_id, ts, value,
           sum(CASE WHEN gap_us IS NULL OR gap_us > {gap_us} THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM (
        SELECT user_id, ts, value, event_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events) g
) s
GROUP BY user_id, session_no
ORDER BY user_id, session_no
""".format(gap_us=gap_minutes * 60 * 1_000_000)


def sessionize_us_oracle(gap_minutes: int = 30) -> str:
    """``sessionize_oracle`` with microsecond-long window bounds — the
    column shape of the STREAMING sessionizer (SESSIONS_SCHEMA in
    streaming/sessionize_stream.py), so the stream-replay gate hashes
    against the very same gaps-and-islands SQL the batch gate uses."""
    return (sessionize_oracle(gap_minutes)
            .replace("min(ts) AS session_start",
                     "epoch_us(min(ts)) AS start_us")
            .replace("max(ts) AS session_end",
                     "epoch_us(max(ts)) AS end_us"))
