"""Event classification, trades, availability, ops summary (SURVEY §2.5).

Reference parity:
- E1 ``get.events`` — the flagship query (reference db/get_schema.sql:307-453):
  active events = window events ∪ book-at-start; as-of join to the prevailing
  (strictly-before) level1 spread; ``is_aggressor`` = price crosses the
  opposite best; per-order lifetime flags via bool aggregations over the order
  partition; order-type classification pacman / flashed-limit / resting-limit
  / market / market-limit / unknown; aggressiveness in bps; matching-event
  UUIDs via the trades both-directions union.
- E2 ``get.trades`` (reference db/get_schema.sql:688-720).
- E3 ``get.events_intervals`` (reference db/get_schema.sql:462-500).
- E4 ``obanalytics.summary`` (reference db/obanalytics_schema.sql:2510-2583).

Spark-first notes
-----------------
Everything here is native window SQL — no UDFs, whole-stage codegen end to
end. The as-of spread join is the unioned-timeline pattern: level1 rows and
events share a (pair, era, ts, kind) ordering where events sort BEFORE the
level1 row of the same instant, so ``last(..., ignorenulls)`` yields the
spread prevailing strictly before each event — the same semantics the
reference gets from ``lead(microtimestamp)`` + ``last() over``. One shuffle
on (pair, era); lifetime flags reuse the same partitioning.

Deviation from the reference, documented: per-order windows partition by
(pair, era, order_id) not bare order_id, because the synthetic feed recycles
order ids across eras (reference ids are globally unique per exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from obadiah_spark.functions import level3_uuid, level3_uuid_sql
from obadiah_spark.operators.depth import SPREAD_L1_CTES, grid_last
from obadiah_spark.operators.order_book import live_at

_ACTIVE_COLS = [
    "pair_id", "exchange_id", "era", "microtimestamp", "order_id", "event_no",
    "is_deleted_event", "side", "price", "amount", "fill", "price_microtimestamp",
]


def active_events(l3: DataFrame, start: str, end: str) -> DataFrame:
    """The events E1 and SRC6 report over (start, end]: window events ∪
    the book at ``start`` (reference get.events and get.export,
    db/get_schema.sql:307-453, 520-552), zero-amount phantom creates
    dropped (:352)."""
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    window_events = (
        l3.filter(
            (F.col("microtimestamp") > start_c)
            & (F.col("microtimestamp") <= end_c)
            & ~((F.col("amount") == 0) & (F.col("event_no") == 1)
                & (F.col("chain_state") != "deleted"))
        )
        .withColumn("is_deleted_event", F.col("chain_state") == "deleted")
        .select(*_ACTIVE_COLS)
    )
    book_at_start = (
        live_at(l3, start)
        .withColumn("is_deleted_event", F.lit(False))
        .select(*_ACTIVE_COLS)
    )
    return window_events.unionByName(book_at_start)


def get_events(l3: DataFrame, l1: DataFrame, matches: DataFrame,
               start: str, end: str,
               frequency_s: int | None = None) -> DataFrame:
    """E1: classified order events over (start, end].

    ``frequency_s`` is the reference's ``p_frequency`` (get_schema.sql:307):
    it affects ONLY the prevailing best bid/ask columns — the level1 stream
    is sampled onto the closed-right ceiling grid (last state per interval,
    stamped at the boundary, get_schema.sql:339 feeds level1_continuous
    with p_frequency) before the as-of join; the event rows themselves are
    never resampled."""
    from obadiah_spark.functions import validate_parameters

    validate_parameters(start, end)  # F6 range guard (get_schema.sql:150-159)
    if frequency_s is not None:
        l1 = grid_last(l1, frequency_s, ["best_bid_price", "best_ask_price"])
    active = active_events(l3, start, end)

    # --- as-of (strictly-before) prevailing spread -------------------------
    l1_rows = l1.select(
        "pair_id", "era",
        F.col("microtimestamp").alias("_ts"),
        F.col("best_bid_price").alias("_l1_bid"),
        F.col("best_ask_price").alias("_l1_ask"),
        F.lit(1).alias("_kind"),
    )
    ev_rows = active.withColumn("_ts", F.col("microtimestamp")).withColumn("_kind", F.lit(0))
    timeline = ev_rows.unionByName(l1_rows, allowMissingColumns=True)
    w_asof = (
        W.partitionBy("pair_id", "era")
        .orderBy("_ts", "_kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    base = (
        timeline
        .withColumn("best_bid_price", F.last("_l1_bid", ignorenulls=True).over(w_asof))
        .withColumn("best_ask_price", F.last("_l1_ask", ignorenulls=True).over(w_asof))
        .filter(F.col("_kind") == 0)
        .drop("_ts", "_kind", "_l1_bid", "_l1_ask")
        .withColumn(
            "is_aggressor",
            F.when(F.col("side") == "s",
                   F.col("price") <= F.coalesce(F.col("best_bid_price"), F.col("price") - 1))
            .when(F.col("side") == "b",
                  F.col("price") >= F.coalesce(F.col("best_ask_price"), F.col("price") + 1)),
        )
    )

    # --- per-order lifetime flags (bool_or == max over booleans, null-skip) -
    o = W.partitionBy("pair_id", "era", "order_id")
    flags = (
        base
        .withColumn("is_price_ever_changed", F.max("price").over(o) != F.min("price").over(o))
        .withColumn("is_ever_resting", F.max(~F.col("is_aggressor")).over(o))
        .withColumn("is_ever_aggressor", F.max("is_aggressor").over(o))
        .withColumn("is_ever_filled", F.max(F.coalesce(F.col("fill"), F.lit(0.0)) > 0).over(o))
        .withColumn("is_deleted", F.max("is_deleted_event").over(o))
        .withColumn("is_created", F.max((F.col("event_no") == 1) & ~F.col("is_deleted_event")).over(o))
    )

    # --- matching-event connection (both directions of each trade) ---------
    # inclusive lower bound: reference selects matches BETWEEN p_start_time
    # AND p_end_time (get_schema.sql:371) — a trade exactly at start must
    # still link the book-at-start event
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    tr = matches.filter((F.col("microtimestamp") >= start_c) & (F.col("microtimestamp") <= end_c))
    conn_buy = tr.filter(F.col("buy_order_id").isNotNull()).select(
        "pair_id", "microtimestamp",
        F.col("buy_event_no").alias("event_no"),
        F.col("buy_order_id").alias("order_id"),
        F.when(
            F.col("sell_order_id").isNotNull(),
            level3_uuid(F.col("microtimestamp"), F.col("sell_order_id"),
                        F.col("sell_event_no"), F.col("pair_id"), F.col("exchange_id")),
        ).alias("matching_event"),
    )
    conn_sell = tr.filter(F.col("sell_order_id").isNotNull()).select(
        "pair_id", "microtimestamp",
        F.col("sell_event_no").alias("event_no"),
        F.col("sell_order_id").alias("order_id"),
        F.when(
            F.col("buy_order_id").isNotNull(),
            level3_uuid(F.col("microtimestamp"), F.col("buy_order_id"),
                        F.col("buy_event_no"), F.col("pair_id"), F.col("exchange_id")),
        ).alias("matching_event"),
    )
    conn = conn_buy.unionByName(conn_sell).withColumn("_in_trade", F.lit(True))

    ev = flags.join(conn, ["pair_id", "microtimestamp", "event_no", "order_id"], "left")

    classify = (
        F.when(F.col("is_price_ever_changed"), "pacman")
        .when(F.col("is_ever_resting") & ~F.col("is_ever_aggressor")
              & ~F.col("is_ever_filled") & F.col("is_deleted"), "flashed-limit")
        .when(F.col("is_ever_resting") & ~F.col("is_ever_aggressor")
              & ~F.col("is_ever_filled") & ~F.col("is_deleted"), "resting-limit")
        .when(F.col("is_ever_resting") & ~F.col("is_ever_aggressor")
              & F.col("is_ever_filled"), "resting-limit")
        .when(~F.col("is_ever_resting") & F.col("is_ever_aggressor")
              & F.col("is_deleted") & F.col("is_ever_filled"), "market")
        .when(~F.col("is_ever_resting") & F.col("is_ever_aggressor")
              & F.col("is_deleted") & ~F.col("is_ever_filled"), "flashed-limit")
        .when((F.col("is_ever_resting") | ~F.col("is_deleted")) & F.col("is_ever_aggressor"),
              "market-limit")
        .otherwise("unknown")
    )
    # reference divides BOTH sides by best_ask (get_schema.sql:435-438) —
    # reproduced verbatim for parity
    aggr_bps = (
        F.when(F.col("side") == "s",
               F.round((F.col("best_ask_price") - F.col("price")) / F.col("best_ask_price") * 10000))
        .when(F.col("side") == "b",
              F.round((F.col("price") - F.col("best_bid_price")) / F.col("best_ask_price") * 10000))
    )

    return ev.select(
        F.when(
            F.col("_in_trade").isNotNull(),
            level3_uuid(F.col("microtimestamp"), F.col("order_id"), F.col("event_no"),
                        F.col("pair_id"), F.col("exchange_id")),
        ).alias("event_uuid"),
        "order_id",
        F.unix_micros(F.col("microtimestamp")).alias("ts_us"),
        F.unix_micros(F.col("price_microtimestamp")).alias("exchange_ts_us"),
        "price",
        F.col("amount").alias("volume"),
        F.when((F.col("event_no") == 1) & ~F.col("is_deleted_event"), "created")
        .when((F.col("event_no") > 1) & ~F.col("is_deleted_event"), "changed")
        .when(F.col("is_deleted_event"), "deleted").alias("action"),
        F.when(F.col("side") == "b", "bid").when(F.col("side") == "s", "ask").alias("direction"),
        F.when(F.col("fill") > 0, F.col("fill")).otherwise(F.lit(0.0)).alias("fill"),
        "matching_event",
        classify.alias("order_type"),
        aggr_bps.alias("aggressiveness_bps"),
        "event_no",
        "is_aggressor", "is_created", "is_ever_resting", "is_ever_aggressor",
        "is_ever_filled", "is_deleted", "is_price_ever_changed",
        "best_bid_price", "best_ask_price", "pair_id",
    )


def events_oracle_sql(start: str, end: str,
                      l1_ctes: str | None = None) -> str:
    """DuckDB oracle for get_events — independent formulation: ASOF join for
    the prevailing spread instead of the unioned timeline.

    ``l1_ctes`` substitutes the level1 CTE fabric (default SPREAD_L1_CTES)
    — the frequency overload passes the grid-ceiled variant so only the
    prevailing-spread side is resampled, exactly like the engine."""
    uuid_self = level3_uuid_sql("f.microtimestamp", "f.order_id", "f.event_no",
                                "f.pair_id", "f.exchange_id")
    uuid_sell = level3_uuid_sql("microtimestamp", "sell_order_id", "sell_event_no",
                                "pair_id", "exchange_id")
    uuid_buy = level3_uuid_sql("microtimestamp", "buy_order_id", "buy_event_no",
                               "pair_id", "exchange_id")
    return f"""
WITH {l1_ctes if l1_ctes is not None else SPREAD_L1_CTES},
active AS (
    SELECT pair_id, exchange_id, era, microtimestamp, order_id, event_no,
           chain_state = 'deleted' AS is_deleted_event,
           side, price, amount, fill, price_microtimestamp
    FROM level3
    WHERE microtimestamp > TIMESTAMP '{start}'
      AND microtimestamp <= TIMESTAMP '{end}'
      AND NOT (amount = 0 AND event_no = 1 AND chain_state <> 'deleted')
    UNION ALL
    SELECT pair_id, exchange_id, era, microtimestamp, order_id, event_no,
           false, side, price, amount, fill, price_microtimestamp
    FROM level3 l
    WHERE microtimestamp <= TIMESTAMP '{start}'
      AND era = (SELECT max(era) FROM level3 x
                 WHERE x.pair_id = l.pair_id AND x.exchange_id = l.exchange_id
                   AND x.era <= TIMESTAMP '{start}')
      AND (chain_state = 'alive'
           OR (chain_state = 'chained' AND next_microtimestamp > TIMESTAMP '{start}'))
),
base AS (
    SELECT a.*, l.best_bid_price, l.best_ask_price,
           CASE a.side
             WHEN 's' THEN a.price <= coalesce(l.best_bid_price, a.price - 1)
             WHEN 'b' THEN a.price >= coalesce(l.best_ask_price, a.price + 1)
           END AS is_aggressor
    FROM active a ASOF LEFT JOIN l1_dedup l
      ON a.pair_id = l.pair_id AND a.era = l.era AND a.microtimestamp > l.ts
),
flags AS (
    SELECT base.*,
           max(price) OVER o <> min(price) OVER o AS is_price_ever_changed,
           bool_or(NOT is_aggressor) OVER o AS is_ever_resting,
           bool_or(is_aggressor) OVER o AS is_ever_aggressor,
           bool_or(coalesce(fill, 0.0) > 0.0) OVER o AS is_ever_filled,
           bool_or(is_deleted_event) OVER o AS is_deleted,
           bool_or(event_no = 1 AND NOT is_deleted_event) OVER o AS is_created
    FROM base
    WINDOW o AS (PARTITION BY pair_id, era, order_id)
),
conn AS (
    SELECT pair_id, microtimestamp, buy_event_no AS event_no, buy_order_id AS order_id,
           CASE WHEN sell_order_id IS NOT NULL THEN {uuid_sell} END AS matching_event
    FROM matches
    WHERE microtimestamp >= TIMESTAMP '{start}' AND microtimestamp <= TIMESTAMP '{end}'
      AND buy_order_id IS NOT NULL
    UNION ALL
    SELECT pair_id, microtimestamp, sell_event_no, sell_order_id,
           CASE WHEN buy_order_id IS NOT NULL THEN {uuid_buy} END
    FROM matches
    WHERE microtimestamp >= TIMESTAMP '{start}' AND microtimestamp <= TIMESTAMP '{end}'
      AND sell_order_id IS NOT NULL
)
SELECT
    CASE WHEN c.order_id IS NOT NULL THEN {uuid_self} END AS event_uuid,
    f.order_id,
    epoch_us(f.microtimestamp) AS ts_us,
    epoch_us(f.price_microtimestamp) AS exchange_ts_us,
    f.price,
    f.amount AS volume,
    CASE WHEN f.event_no = 1 AND NOT is_deleted_event THEN 'created'
         WHEN f.event_no > 1 AND NOT is_deleted_event THEN 'changed'
         WHEN is_deleted_event THEN 'deleted' END AS action,
    CASE f.side WHEN 'b' THEN 'bid' WHEN 's' THEN 'ask' END AS direction,
    CASE WHEN f.fill > 0.0 THEN f.fill ELSE 0.0 END AS fill,
    c.matching_event,
    CASE WHEN is_price_ever_changed THEN 'pacman'
         WHEN is_ever_resting AND NOT is_ever_aggressor AND NOT is_ever_filled AND is_deleted THEN 'flashed-limit'
         WHEN is_ever_resting AND NOT is_ever_aggressor AND NOT is_ever_filled AND NOT is_deleted THEN 'resting-limit'
         WHEN is_ever_resting AND NOT is_ever_aggressor AND is_ever_filled THEN 'resting-limit'
         WHEN NOT is_ever_resting AND is_ever_aggressor AND is_deleted AND is_ever_filled THEN 'market'
         WHEN NOT is_ever_resting AND is_ever_aggressor AND is_deleted AND NOT is_ever_filled THEN 'flashed-limit'
         WHEN (is_ever_resting OR NOT is_deleted) AND is_ever_aggressor THEN 'market-limit'
         ELSE 'unknown' END AS order_type,
    CASE f.side
        WHEN 's' THEN round((best_ask_price - f.price) / best_ask_price * 10000)
        WHEN 'b' THEN round((f.price - best_bid_price) / best_ask_price * 10000)
    END AS aggressiveness_bps,
    f.event_no,
    is_aggressor, is_created, is_ever_resting, is_ever_aggressor,
    is_ever_filled, is_deleted, is_price_ever_changed,
    best_bid_price, best_ask_price, f.pair_id
FROM flags f LEFT JOIN conn c
  ON c.pair_id = f.pair_id AND c.microtimestamp = f.microtimestamp
 AND c.event_no = f.event_no AND c.order_id = f.order_id
"""


def get_trades(matches: DataFrame, start: str, end: str) -> DataFrame:
    """E2: trades projection over [start, end] (reference get_schema.sql:688-720)."""
    from obadiah_spark.functions import validate_parameters

    validate_parameters(start, end)  # F6 range guard (get_schema.sql:150-159)
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    m = matches.filter((F.col("microtimestamp") >= start_c) & (F.col("microtimestamp") <= end_c))

    def uuid_of(prefix: str):
        return level3_uuid(F.col("microtimestamp"), F.col(f"{prefix}_order_id"),
                           F.col(f"{prefix}_event_no"), F.col("pair_id"), F.col("exchange_id"))

    maker_uuid = F.when(F.col("side") == "b",
                        F.when(F.col("sell_order_id").isNotNull(), uuid_of("sell"))) \
                  .otherwise(F.when(F.col("buy_order_id").isNotNull(), uuid_of("buy")))
    taker_uuid = F.when(F.col("side") == "b",
                        F.when(F.col("buy_order_id").isNotNull(), uuid_of("buy"))) \
                  .otherwise(F.when(F.col("sell_order_id").isNotNull(), uuid_of("sell")))
    return m.select(
        F.unix_micros(F.col("microtimestamp")).alias("ts_us"),
        "price",
        F.col("amount").alias("volume"),
        F.when(F.col("side") == "b", "buy").otherwise("sell").alias("direction"),
        maker_uuid.alias("maker_event_uuid"),
        taker_uuid.alias("taker_event_uuid"),
        F.when(F.col("side") == "b", F.col("sell_order_id"))
         .otherwise(F.col("buy_order_id")).alias("maker"),
        F.when(F.col("side") == "b", F.col("buy_order_id"))
         .otherwise(F.col("sell_order_id")).alias("taker"),
        "exchange_trade_id",
        "pair_id",
    )


def trades_oracle_sql(start: str, end: str) -> str:
    u_sell = level3_uuid_sql("microtimestamp", "sell_order_id", "sell_event_no",
                             "pair_id", "exchange_id")
    u_buy = level3_uuid_sql("microtimestamp", "buy_order_id", "buy_event_no",
                            "pair_id", "exchange_id")
    return f"""
SELECT epoch_us(microtimestamp) AS ts_us,
       price,
       amount AS volume,
       CASE side WHEN 'b' THEN 'buy' ELSE 'sell' END AS direction,
       CASE side WHEN 'b' THEN CASE WHEN sell_order_id IS NOT NULL THEN {u_sell} END
                 ELSE CASE WHEN buy_order_id IS NOT NULL THEN {u_buy} END
       END AS maker_event_uuid,
       CASE side WHEN 'b' THEN CASE WHEN buy_order_id IS NOT NULL THEN {u_buy} END
                 ELSE CASE WHEN sell_order_id IS NOT NULL THEN {u_sell} END
       END AS taker_event_uuid,
       CASE side WHEN 'b' THEN sell_order_id ELSE buy_order_id END AS maker,
       CASE side WHEN 'b' THEN buy_order_id ELSE sell_order_id END AS taker,
       exchange_trade_id,
       pair_id
FROM matches
WHERE microtimestamp >= TIMESTAMP '{start}' AND microtimestamp <= TIMESTAMP '{end}'
"""


def events_intervals(l3: DataFrame, horizon: str) -> DataFrame:
    """E3: data-availability islands. Green [era, watermark] has events; red
    (watermark, next_era or horizon) has none. ``horizon`` replaces the
    reference's now() so results are deterministic."""
    horizon_c = F.lit(horizon).cast("timestamp")
    eras = (
        l3.groupBy("exchange_id", "pair_id", "era")
        .agg(F.max("microtimestamp").alias("watermark"))
    )
    w = W.partitionBy("exchange_id", "pair_id").orderBy("era")
    eras = eras.withColumn("next_era", F.lead("era").over(w))
    greens = eras.select(
        "era", "exchange_id", "pair_id",
        F.col("era").alias("interval_start"),
        F.col("watermark").alias("interval_end"),
        F.lit(True).alias("events"),
    )
    reds = eras.select(
        "era", "exchange_id", "pair_id",
        F.col("watermark").alias("interval_start"),
        F.coalesce(F.col("next_era"), horizon_c).alias("interval_end"),
        F.lit(False).alias("events"),
    )
    out = greens.unionByName(reds)
    return out.select(
        "era", "exchange_id", "pair_id", "interval_start", "interval_end", "events",
        (F.unix_micros(F.col("interval_end")) - F.unix_micros(F.col("interval_start")))
        .alias("duration_us"),
    )


def intervals_oracle_sql(horizon: str) -> str:
    return f"""
WITH eras AS (
    SELECT exchange_id, pair_id, era, max(microtimestamp) AS watermark,
           lead(era) OVER (PARTITION BY exchange_id, pair_id ORDER BY era) AS next_era
    FROM level3
    GROUP BY exchange_id, pair_id, era
), colours AS (
    SELECT era, exchange_id, pair_id, era AS interval_start, watermark AS interval_end,
           true AS events
    FROM eras
    UNION ALL
    SELECT era, exchange_id, pair_id, watermark,
           coalesce(next_era, TIMESTAMP '{horizon}'), false
    FROM eras
)
SELECT era, exchange_id, pair_id, interval_start, interval_end, events,
       epoch_us(interval_end) - epoch_us(interval_start) AS duration_us
FROM colours
"""


def summary(l3: DataFrame, matches: DataFrame) -> DataFrame:
    """E4: ops stats per (exchange, pair, era) — counts, first/last, rates."""
    ev = l3.groupBy("exchange_id", "pair_id", "era").agg(
        F.min("microtimestamp").alias("e_first_ts"),
        F.max("microtimestamp").alias("e_last_ts"),
        F.count(F.lit(1)).alias("e_total"),
    )
    tr = matches.groupBy("exchange_id", "pair_id", "era").agg(
        F.min("microtimestamp").alias("t_first_ts"),
        F.max("microtimestamp").alias("t_last_ts"),
        F.count(F.lit(1)).alias("t_total"),
        F.count(F.when(F.col("buy_order_id").isNotNull()
                       | F.col("sell_order_id").isNotNull(), 1)).alias("t_matched"),
        F.count(F.when(F.col("exchange_trade_id").isNotNull(), 1)).alias("t_exchange"),
    )

    def per_sec(total, first, last):
        secs = (F.unix_micros(F.col(last)) - F.unix_micros(F.col(first))) / 1e6
        return F.when(secs > 0, F.round(F.col(total) / secs, 2)).otherwise(F.lit(0.0))

    out = ev.join(tr, ["exchange_id", "pair_id", "era"], "left")
    return out.select(
        "exchange_id", "pair_id", "era",
        F.unix_micros("e_first_ts").alias("e_first_us"),
        F.unix_micros("e_last_ts").alias("e_last_us"),
        "e_total",
        per_sec("e_total", "e_first_ts", "e_last_ts").alias("e_per_sec"),
        F.unix_micros("t_first_ts").alias("t_first_us"),
        F.unix_micros("t_last_ts").alias("t_last_us"),
        F.coalesce(F.col("t_total"), F.lit(0)).alias("t_total"),
        per_sec("t_total", "t_first_ts", "t_last_ts").alias("t_per_sec"),
        F.coalesce(F.col("t_matched"), F.lit(0)).alias("t_matched"),
        F.coalesce(F.col("t_exchange"), F.lit(0)).alias("t_exchange"),
    )


SUMMARY_ORACLE_BODY = """
WITH ev AS (
    SELECT exchange_id, pair_id, era,
           min(microtimestamp) AS e_first_ts,
           max(microtimestamp) AS e_last_ts,
           count(*) AS e_total
    FROM level3 GROUP BY exchange_id, pair_id, era
), tr AS (
    SELECT exchange_id, pair_id, era,
           min(microtimestamp) AS t_first_ts,
           max(microtimestamp) AS t_last_ts,
           count(*) AS t_total,
           count(*) FILTER (WHERE buy_order_id IS NOT NULL OR sell_order_id IS NOT NULL) AS t_matched,
           count(*) FILTER (WHERE exchange_trade_id IS NOT NULL) AS t_exchange
    FROM matches GROUP BY exchange_id, pair_id, era
)
SELECT ev.exchange_id, ev.pair_id, ev.era,
       epoch_us(e_first_ts) AS e_first_us,
       epoch_us(e_last_ts) AS e_last_us,
       e_total,
       CASE WHEN epoch_us(e_last_ts) - epoch_us(e_first_ts) > 0
            THEN round(e_total / ((epoch_us(e_last_ts) - epoch_us(e_first_ts)) / 1e6), 2)
            ELSE 0.0 END AS e_per_sec,
       epoch_us(t_first_ts) AS t_first_us,
       epoch_us(t_last_ts) AS t_last_us,
       CAST(coalesce(t_total, 0) AS BIGINT) AS t_total,
       CASE WHEN epoch_us(t_last_ts) - epoch_us(t_first_ts) > 0
            THEN round(t_total / ((epoch_us(t_last_ts) - epoch_us(t_first_ts)) / 1e6), 2)
            ELSE 0.0 END AS t_per_sec,
       CAST(coalesce(t_matched, 0) AS BIGINT) AS t_matched,
       CAST(coalesce(t_exchange, 0) AS BIGINT) AS t_exchange
FROM ev LEFT JOIN tr USING (exchange_id, pair_id, era)
"""
