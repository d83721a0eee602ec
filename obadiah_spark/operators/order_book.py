"""Point-in-time order-book snapshot + user-facing book analytics.

Reference parity:
- B1 ``obanalytics.order_book(p_ts, p_only_makers, p_before, p_side)`` — as-of
  snapshot of live level3 events (reference db/obanalytics_schema.sql:2035-2075):
  rows of the current era (max era <= p_ts, data-driven) with
  ``microtimestamp <= ts < next_microtimestamp`` (or strict < / >= when
  before=True); ``is_maker`` = the order does not cross any *older* opposite
  order (running extremum over price-time priority, :2041-2047); ``is_crossed``
  = it crosses some *newer* opposite order (same windows descending,
  :2048-2054).
- B6 ``get.order_book`` — snapshot + analytics: best prices, cumulative
  liquidity from the best price outward, bps distance (rounded to 2),
  dense-rank level, filters max_levels / bps_range / min_bid / max_ask,
  makers only (reference db/get_schema.sql:561-603).

Spark-first: the snapshot is a filter (partition pruning on era/pair at
scale); maker/crossed flags and analytics are window functions over the live
set (O(open orders) rows) — no custom operator, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _alive(at: Column, before: bool = False) -> Column:
    """Started and not yet ended at ``at`` (the instant before it with
    ``before``) under the ±infinity convention (see synth.py): chain_state
    'alive' = next is +infinity (always live once created), 'deleted' =
    order removed at this event (never live), 'chained' = live in
    [microtimestamp, next)."""
    started = F.col("microtimestamp") < at if before else F.col("microtimestamp") <= at
    not_ended = (F.col("chain_state") == "alive") | (
        (F.col("chain_state") == "chained")
        & (F.col("next_microtimestamp") >= at if before else F.col("next_microtimestamp") > at)
    )
    return started & not_ended


def _current_era(l3: DataFrame, at_ts, before: bool = False) -> DataFrame:
    """Rows of each (pair, exchange)'s current era at ``at_ts``: era is
    DATA-DRIVEN, the max era that started at or before at_ts — reference
    selects max(era) <= p_ts (db/obanalytics_schema.sql:2061-2065). With
    ``before`` an era starting exactly at at_ts is not yet current."""
    at: Column = F.lit(at_ts).cast("timestamp")
    era_started = F.col("era") < at if before else F.col("era") <= at
    w_pair = W.partitionBy("pair_id", "exchange_id")
    return (
        l3.filter(era_started)
        .withColumn("_cur_era", F.max("era").over(w_pair))
        .filter(F.col("era") == F.col("_cur_era"))
        .drop("_cur_era")
    )


def live_at(l3: DataFrame, at_ts, before: bool = False) -> DataFrame:
    """Events alive at instant ``at_ts`` within its (data-driven) era.
    ``before=True`` uses the book the instant *before* at_ts (strict <), as
    the reference's ``p_before`` flag does."""
    at: Column = F.lit(at_ts).cast("timestamp")
    return _current_era(l3, at_ts, before).filter(_alive(at, before))


def snapshot_multi(l3: DataFrame, instants: DataFrame) -> DataFrame:
    """B1 at MANY instants in ONE distributed pass.

    ``instants`` is a tiny one-column (``at_ts``) frame — broadcast twice:
    once to resolve the data-driven current era per (at_ts, pair, exchange),
    once to join the live set. Output = :func:`snapshot` columns + ``at_ts``.
    Semantics per instant are identical to ``snapshot(l3, at_ts)`` (inclusive
    bound, no maker filter); used by fix_crossed_books to repair all eternal
    crossed instants without per-instant driver loops.
    """
    at = F.col("at_ts")
    # current era per probe instant: max era <= at_ts over ALL rows of the
    # (pair, exchange) — resolved on the tiny distinct-era set first so the
    # live join below never sees a stale era as "current"
    eras = l3.select("pair_id", "exchange_id", "era").distinct()
    cur_era = (
        eras.join(F.broadcast(instants), F.col("era") <= at)
        .groupBy("at_ts", "pair_id", "exchange_id")
        .agg(F.max("era").alias("_cur_era"))
    )
    live = l3.alias("l").join(
        F.broadcast(cur_era).alias("e"),
        (F.col("l.pair_id") == F.col("e.pair_id"))
        & (F.col("l.exchange_id") == F.col("e.exchange_id"))
        & (F.col("l.era") == F.col("e._cur_era"))
        & _alive(at),
    ).select("l.*", "e.at_ts")
    return _maker_crossed_flags(
        live, partition_cols=("at_ts", "pair_id", "exchange_id"))


def _maker_crossed_flags(live: DataFrame, only_makers: bool = False,
                         side: str | None = None,
                         partition_cols: tuple[str, ...] = (
                             "pair_id", "exchange_id")) -> DataFrame:
    """Price-time-priority maker/crossed flags over a live set (B1).

    ``partition_cols`` is the book identity — snapshot_multi adds its
    probe instant (``at_ts``) so one pass flags many books at once."""
    w_pair = W.partitionBy(*partition_cols)
    w_fwd = w_pair.orderBy("price_microtimestamp", "microtimestamp")
    w_bwd = w_pair.orderBy(F.desc("price_microtimestamp"), F.desc("microtimestamp"))
    older_ask_min = F.min(
        F.when((F.col("side") == "s") & (F.col("amount") > 0), F.col("price"))
    ).over(w_fwd)
    older_bid_max = F.max(
        F.when((F.col("side") == "b") & (F.col("amount") > 0), F.col("price"))
    ).over(w_fwd)
    newer_ask_min = F.min(
        F.when((F.col("side") == "s") & (F.col("amount") > 0), F.col("price"))
    ).over(w_bwd)
    newer_bid_max = F.max(
        F.when((F.col("side") == "b") & (F.col("amount") > 0), F.col("price"))
    ).over(w_bwd)
    out = live.withColumn(
        "is_maker",
        F.coalesce(
            F.when(F.col("side") == "b", F.col("price") <= older_ask_min)
             .when(F.col("side") == "s", F.col("price") >= older_bid_max),
            F.lit(True),
        ),
    ).withColumn(
        "is_crossed",
        F.coalesce(
            F.when(F.col("side") == "b", F.col("price") > newer_ask_min)
             .when(F.col("side") == "s", F.col("price") < newer_bid_max),
            F.lit(False),
        ),
    )
    if only_makers:
        out = out.filter(F.col("is_maker"))
    if side is not None:
        out = out.filter(F.col("side") == side)
    return out


def with_next_is_delete(l3: DataFrame) -> DataFrame:
    """Annotate each event with ``_next_is_delete``: the chain's next event
    is a deletion — the Spark-schema analogue of the reference's
    ``next_microtimestamp = '-infinity'`` transient-taker marker (deletions
    are explicit events here, so "never rests again" means the immediately
    following event of the same life removes the order)."""
    w = (W.partitionBy("pair_id", "exchange_id", "era", "order_id", "life_no")
         .orderBy("event_no"))
    return l3.withColumn(
        "_next_is_delete", F.lead("chain_state").over(w) == "deleted")


def snapshot(l3: DataFrame, at_ts, before: bool = False,
             only_makers: bool = False, side: str | None = None,
             check_takers: bool = False) -> DataFrame:
    """B1: live events + is_maker / is_crossed flags (price-time priority).

    ``check_takers`` mirrors the reference's ``p_check_takers`` branch
    (db/obanalytics_schema.sql:888-900,920-970,612 via
    ``_is_valid_taker_event``): a live NON-maker (crossing) event is only
    acceptable if its chain's next event shows the order never rests —
    here, the next event is a deletion. The reference RAISES on a
    violator; Spark-first, validation is a query, not an exception: the
    flag DROPS the acceptable transient takers (they are in-flight, not
    resting liquidity) along with nothing else, while
    :func:`obadiah_spark.operators.quality.invalid_takers` surfaces the
    rows the reference would abort on."""
    if check_takers:
        l3 = with_next_is_delete(l3)
    out = _maker_crossed_flags(live_at(l3, at_ts, before), only_makers, side)
    if check_takers:
        out = out.filter(
            F.col("is_maker")
            | ~F.coalesce(F.col("_next_is_delete"), F.lit(False))
        ).drop("_next_is_delete")
    return out


def snapshot_from_silver(l3: DataFrame, ckpt_path: str, at_ts,
                         only_makers: bool = False,
                         side: str | None = None) -> DataFrame:
    """B1 probe against the MATERIALIZED checkpoint silver table (the
    production point-in-time path, VERDICT r4 #1).

    All probe metadata — current era per pair and the latest boundary ≤
    at_ts — comes from :func:`obadiah_spark.sources.silver.resolve_probe`:
    a driver-side filesystem/metastore lookup, zero Spark jobs. The plan is
    then two literal-filtered scans (the pruned boundary partitions + the
    (boundary, at_ts] event tail) unioned into exactly two shuffles
    (per-order last-event dedup, maker/crossed flags). Equality with
    :func:`snapshot` is pytest-enforced."""
    from datetime import datetime
    from zoneinfo import ZoneInfo

    from ..sources.silver import resolve_probe

    at = F.lit(at_ts).cast("timestamp")
    # the driver-side epoch must agree with how the SESSION interprets the
    # same literal (F.lit(...).cast('timestamp') uses
    # spark.sql.session.timeZone) — hardcoding UTC would mis-resolve the
    # boundary by the session offset and break the boundary/tail tiling
    tz = l3.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    at_dt = datetime.fromisoformat(str(at_ts)).replace(
        tzinfo=ZoneInfo(tz or "UTC"))
    at_us = int(at_dt.timestamp() * 1_000_000)
    meta = resolve_probe(ckpt_path, at_us)
    if not meta:
        return _maker_crossed_flags(
            live_at(l3, at_ts).limit(0), only_makers, side)
    spark = l3.sparkSession
    # the (boundary rows ∪ event tail) candidate projection
    cols = ["pair_id", "exchange_id", "era", "microtimestamp", "order_id",
            "event_no", "side", "price", "amount", "chain_state",
            "next_microtimestamp", "next_event_no", "price_microtimestamp",
            "price_event_no", "life_no"]

    ck_dirs = []
    tail_pred = F.lit(False)
    for e, p, era_us, bound_us in meta:
        pair = (F.col("exchange_id") == e) & (F.col("pair_id") == p)
        if bound_us is not None:
            ck_dirs.append(f"{ckpt_path}/exchange_id={e}/pair_id={p}"
                           f"/era_us={era_us}/boundary_us={bound_us}")
        era_lit = F.timestamp_micros(F.lit(era_us))
        t = pair & (F.col("era") == era_lit) & (F.col("microtimestamp") <= at)
        if bound_us is not None:
            t = t & (F.col("microtimestamp")
                     > F.timestamp_micros(F.lit(bound_us)))
        tail_pred = tail_pred | t

    tail = l3.filter(tail_pred).select(*cols)
    if ck_dirs:
        # list ONLY the selected boundary directories (basePath keeps the
        # partition columns) — planning touches a handful of files, not the
        # whole checkpoint history
        ck_latest = (
            spark.read.option("basePath", ckpt_path).parquet(*ck_dirs)
            .withColumn("exchange_id", F.col("exchange_id").cast("int"))
            .withColumn("pair_id", F.col("pair_id").cast("int"))
            .select(*cols)
        )
        cand = ck_latest.unionByName(tail)
    else:
        cand = tail
    # one explicit hash partitioning by (pair, exchange): every later window
    # — per-order dedup (p,e,order), maker flags (p,e), book analytics
    # (p,e,side) — is satisfied by this clustering, so the whole probe
    # pipeline runs in a single exchange (sorts only, no further shuffles)
    cand = cand.repartition("pair_id", "exchange_id")
    # the latest row per order decides: alive iff it is not a delete
    w_o = (W.partitionBy("pair_id", "exchange_id", "order_id")
           .orderBy(F.desc("microtimestamp"), F.desc("event_no")))
    live = (
        cand.withColumn("_rn", F.row_number().over(w_o))
        .filter((F.col("_rn") == 1) & (F.col("chain_state") != "deleted"))
        .drop("_rn")
    )
    return _maker_crossed_flags(live, only_makers, side)


def order_book(l3: DataFrame, at_ts, max_levels: int | None = None,
               bps_range: float | None = None, min_bid: float | None = None,
               max_ask: float | None = None, only_makers: bool = True,
               live: DataFrame | None = None) -> DataFrame:
    """B6: snapshot with liquidity / bps / price level analytics + filters.

    ``live`` supplies a prebuilt flagged snapshot (e.g. from
    :func:`snapshot_from_silver`) instead of the full-history as-of filter.
    """
    if live is None:
        live = snapshot(l3, at_ts, only_makers=only_makers)
    # distance from the top of the book: bids descend, asks ascend
    dist = F.when(F.col("side") == "b", -F.col("price")).otherwise(F.col("price"))
    w_pair = W.partitionBy("pair_id", "exchange_id", "side")
    w_walk = w_pair.orderBy(dist, "microtimestamp", "order_id", "event_no")
    w_rank = w_pair.orderBy(dist)

    best = F.when(
        F.col("side") == "b", F.max("price").over(w_pair)
    ).otherwise(F.min("price").over(w_pair))
    # bps to 2dp via floor(x*100+0.5)/100 — same op sequence as the oracle,
    # no engine-specific round-half behavior
    bps_raw = F.abs(F.col("price") - best) / best * F.lit(10000).cast("double")
    bps = F.floor(bps_raw * 100 + F.lit(0.5)) / 100

    out = (
        live.withColumn(
            "liquidity",
            F.sum("amount").over(w_walk.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .withColumn("bps", bps)
        .withColumn("lvl", F.dense_rank().over(w_rank).cast("bigint"))
        .select(
            "pair_id", "exchange_id", "side", "price", "amount",
            "order_id", "event_no", "microtimestamp", "price_microtimestamp",
            "liquidity", "bps", "lvl", "is_maker", "is_crossed",
        )
    )
    if max_levels is not None:
        out = out.filter(F.col("lvl") <= max_levels)
    if bps_range is not None:
        out = out.filter(F.col("bps") <= bps_range)
    # per-SIDE constraints (reference p_min_bid_price / p_max_ask_price):
    # a bound trims its own side and leaves the other side whole — a
    # bids-only bound must never drop the ask book
    cond = F.lit(True)
    if min_bid is not None:
        cond = cond & ((F.col("side") != "b")
                       | (F.col("price") >= min_bid))
    if max_ask is not None:
        cond = cond & ((F.col("side") != "s")
                       | (F.col("price") <= max_ask))
    if min_bid is not None or max_ask is not None:
        out = out.filter(cond)
    return out


def order_book_oracle_sql(at_ts: str, max_levels: int | None = None,
                          bps_range: float | None = None) -> str:
    """DuckDB oracle for order_book (independent formulation, same semantics)."""
    filters = []
    if max_levels is not None:
        filters.append(f"lvl <= {max_levels}")
    if bps_range is not None:
        filters.append(f"bps <= {bps_range}")
    where = ("WHERE " + " AND ".join(filters)) if filters else ""
    return f"""
WITH live AS (
    SELECT l.*
    FROM level3 l
    WHERE microtimestamp <= TIMESTAMP '{at_ts}'
      AND era = (SELECT max(era) FROM level3 l2
                 WHERE l2.pair_id = l.pair_id AND l2.exchange_id = l.exchange_id
                   AND l2.era <= TIMESTAMP '{at_ts}')
      AND (chain_state = 'alive'
           OR (chain_state = 'chained' AND next_microtimestamp > TIMESTAMP '{at_ts}'))
), flagged AS (
    SELECT *,
           coalesce(CASE side
               WHEN 'b' THEN price <= min(price) FILTER (WHERE side = 's' AND amount > 0)
                   OVER (PARTITION BY pair_id, exchange_id
                         ORDER BY price_microtimestamp, microtimestamp)
               WHEN 's' THEN price >= max(price) FILTER (WHERE side = 'b' AND amount > 0)
                   OVER (PARTITION BY pair_id, exchange_id
                         ORDER BY price_microtimestamp, microtimestamp)
           END, true) AS is_maker,
           coalesce(CASE side
               WHEN 'b' THEN price > min(price) FILTER (WHERE side = 's' AND amount > 0)
                   OVER (PARTITION BY pair_id, exchange_id
                         ORDER BY price_microtimestamp DESC, microtimestamp DESC)
               WHEN 's' THEN price < max(price) FILTER (WHERE side = 'b' AND amount > 0)
                   OVER (PARTITION BY pair_id, exchange_id
                         ORDER BY price_microtimestamp DESC, microtimestamp DESC)
           END, false) AS is_crossed
    FROM live
), makers AS (
    -- maker filter applies BEFORE the liquidity/level analytics (reference
    -- passes p_only_makers := true into the snapshot, get_schema.sql:566-571)
    SELECT * FROM flagged WHERE is_maker
)
SELECT * FROM (
    SELECT
        pair_id, exchange_id, side, price, amount,
        order_id, event_no, microtimestamp, price_microtimestamp,
        sum(amount) OVER (
            PARTITION BY pair_id, exchange_id, side
            ORDER BY CASE WHEN side = 'b' THEN -price ELSE price END,
                     microtimestamp, order_id, event_no
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS liquidity,
        floor(abs(price - CASE WHEN side = 'b'
                         THEN max(price) OVER (PARTITION BY pair_id, exchange_id, side)
                         ELSE min(price) OVER (PARTITION BY pair_id, exchange_id, side)
                    END)
            / CASE WHEN side = 'b'
                   THEN max(price) OVER (PARTITION BY pair_id, exchange_id, side)
                   ELSE min(price) OVER (PARTITION BY pair_id, exchange_id, side)
              END * CAST(10000 AS DOUBLE) * 100 + 0.5) / 100 AS bps,
        dense_rank() OVER (
            PARTITION BY pair_id, exchange_id, side
            ORDER BY CASE WHEN side = 'b' THEN -price ELSE price END) AS lvl,
        is_maker, is_crossed
    FROM makers
) t {where}
"""
