"""Trade matching (SURVEY §2.2 I5/I6/I9/I10, F7).

Reference parity:
- I5 ``bitfinex.match_price_and_fill_exact`` — join unmatched trades to
  "matchable" level3 events on exact (price, fill), opposite side, event
  within [trade_ts, trade_ts + max_delay]; double row_number dedup picks one
  event per trade and one trade per event (reference
  db/bitfinex_schema.sql:501-568; matchable events :127-168).
- I9 ``bitstamp.inferred_trades`` — infer trades by pairing opposite-side
  fill events within a small window with fills equal within tolerance; the
  maker is the event with the OLDER price_microtimestamp; trade price/ts come
  from the maker (reference db/bitstamp_schema.sql:834-984, aggressor rule
  :937, projection :939-958).
- F7 ``bitstamp._get_match_rule`` — confidence code 0-3 (reference
  db/bitstamp_schema.sql:208-227).

Deviation, documented: the reference breaks row_number ties arbitrarily
(plain ``order by microtimestamp``); we add (order_id, event_no) /
(exchange_trade_id) tie-breaks so Spark and DuckDB pick the same winner.
The reference's in-place UPDATEs become recompute-and-return DataFrames
(silver-table overwrite at scale).

Scale: both matchers are equi-joins on (pair, era, price/fill) plus a time
window — shuffle on bounded keys; the dedup windows partition on trade/event
ids. No quadratic stage.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from obadiah_spark.fold import ordered_fold


def match_rule(trade_amount: Column, trade_price: Column, event_amount: Column,
               event_fill: Column, is_deleted_event: Column, tolerance: Column) -> Column:
    """F7: 0 exact fill; 1 within tolerance; 2 fill unknown; 3 deleted event
    with zero fill but matching amount (exchange bug); NULL otherwise."""
    return (
        F.when(trade_amount == event_fill, 0)
        .when(F.abs(trade_amount * trade_price - event_fill * trade_price) < tolerance, 1)
        .when(event_fill.isNull(), 2)
        .when(
            is_deleted_event & (event_fill == 0)
            & (F.abs(trade_amount * trade_price - event_amount * trade_price) < tolerance),
            3,
        )
    ).cast("int")


def match_rule_sql(prefix: str, tolerance_pct: float) -> str:
    """:func:`match_rule` over a candidate frame, as Spark SQL text, with
    tolerance = ``tolerance_pct`` × trade price. The trade is
    ``t_amount``/``t_price``, the event the ``prefix``-ed
    ``fill``/``amount``/``is_del`` ('' for the event, 'n_' for its lead).
    One parsed expression: the Column form makes about twenty driver round
    trips for the same rule."""
    f, a, d = f"{prefix}fill", f"{prefix}amount", f"{prefix}is_del"
    tol = f"CAST({tolerance_pct!r} AS DOUBLE) * t_price"
    return (f"CASE WHEN t_amount = {f} THEN 0 "
            f"WHEN abs(t_amount * t_price - {f} * t_price) < {tol} THEN 1 "
            f"WHEN {f} IS NULL THEN 2 "
            f"WHEN {d} AND {f} = 0 AND abs(t_amount * t_price - {a} * t_price)"
            f" < {tol} THEN 3 END")


# aggressor-direction check: the maker (opposite of the taker side) has the
# OLDER price_microtimestamp; ties go to the bid maker
_DIRECTION_SQL = """
    (trade_type = 'b'
     AND CASE WHEN ev_is_buy THEN n_pts ELSE price_microtimestamp END
       < CASE WHEN ev_is_buy THEN price_microtimestamp ELSE n_pts END)
 OR (trade_type = 's'
     AND CASE WHEN ev_is_buy THEN price_microtimestamp ELSE n_pts END
      <= CASE WHEN ev_is_buy THEN n_pts ELSE price_microtimestamp END)"""


def match_price_and_fill_exact(l3: DataFrame, trades: DataFrame,
                               max_delay_s: int = 1) -> DataFrame:
    """I5: link unlinked trades to the level3 event that produced them.

    ``trades`` columns: (pair_id, era, trade_microtimestamp, price, fill,
    origination, exchange_trade_id) — i.e. matches with event links stripped.
    Returns one row per recovered link."""
    ev = l3.filter(F.col("fill") > 0).select(
        "pair_id", "era", "microtimestamp", "order_id", "event_no",
        "side", "price", "fill",
    )
    j = ev.join(
        trades,
        ["pair_id", "era", "price", "fill"],
    ).filter(
        (F.col("side") != F.col("origination"))
        & (F.col("microtimestamp") >= F.col("trade_microtimestamp"))
        & (F.col("microtimestamp")
           <= F.col("trade_microtimestamp") + F.expr(f"INTERVAL {max_delay_s} SECOND"))
    )
    # identities carry era (order ids and trade ids recycle across eras —
    # the repo-wide convention) and the event side carries microtimestamp
    # too ((order_id, event_no) is NOT unique across reincarnation lives)
    w_trade = W.partitionBy("pair_id", "era", "exchange_trade_id").orderBy(
        "microtimestamp", "order_id", "event_no")
    w_event = W.partitionBy("pair_id", "era", "microtimestamp", "order_id",
                            "event_no").orderBy(
        "trade_microtimestamp", "exchange_trade_id")
    return (
        j.withColumn("r", F.row_number().over(w_trade))
        .withColumn("r_l3", F.row_number().over(w_event))
        .filter((F.col("r") == 1) & (F.col("r_l3") == 1))
        .select(
            "pair_id", "exchange_trade_id",
            F.col("trade_microtimestamp"),
            F.col("microtimestamp").alias("event_microtimestamp"),
            "order_id", "event_no", "side", "price", "fill",
        )
    )


def match_fill_exact_oracle_sql(max_delay_s: int = 1) -> str:
    return f"""
WITH ev AS (
    SELECT pair_id, era, microtimestamp, order_id, event_no, side, price, fill
    FROM level3 WHERE fill > 0
), trades AS (
    SELECT pair_id, era, microtimestamp AS trade_microtimestamp, price,
           amount AS fill, side AS origination, exchange_trade_id
    FROM matches
), j AS (
    SELECT ev.*, trades.trade_microtimestamp, trades.exchange_trade_id,
           row_number() OVER (PARTITION BY ev.pair_id, ev.era, trades.exchange_trade_id
                              ORDER BY ev.microtimestamp, ev.order_id, ev.event_no) AS r,
           row_number() OVER (PARTITION BY ev.pair_id, ev.era, ev.microtimestamp,
                                           ev.order_id, ev.event_no
                              ORDER BY trades.trade_microtimestamp, trades.exchange_trade_id) AS r_l3
    FROM ev JOIN trades
      ON ev.pair_id = trades.pair_id AND ev.era = trades.era
     AND ev.price = trades.price AND ev.fill = trades.fill
     AND ev.side <> trades.origination
     AND ev.microtimestamp >= trades.trade_microtimestamp
     AND ev.microtimestamp <= trades.trade_microtimestamp + INTERVAL {max_delay_s} SECOND
)
SELECT pair_id, exchange_trade_id, trade_microtimestamp,
       microtimestamp AS event_microtimestamp,
       order_id, event_no, side, price, fill
FROM j WHERE r = 1 AND r_l3 = 1
"""


def match_sum_of_fills(l3: DataFrame, trades: DataFrame,
                       max_delay_s: int = 1, max_group_size: int = 3,
                       max_set_size: int = 10) -> DataFrame:
    """I6 ``_matches_matchable_sets`` + ``match_price_and_sum_of_fill_exact``:
    match a single book event to the SUM of fills of several adjacent
    unmatched trades (reference db/bitfinex_schema.sql:177-234,577-646).

    Faithful shape:
    - sets = maximal runs of adjacent unmatched trades sharing
      (price, origination) (gaps-and-islands, reference ``matches_sets``);
    - candidate groups = ARBITRARY increasing subsets of a set of size
      2..max_group_size (the reference's recursive CTE enumerates them; here
      bounded self-joins — sets are capped at ``max_set_size``, so the
      enumeration is O(set_size^3) per set, never a global blow-up), plus the
      WHOLE set when set_size > max_group_size (reference
      ``matches_by_sets``). Group fill adds members in position order
      ((f1+f2)+f3 — float-add order fixed so both engines agree); the
      group's trade_microtimestamp is its LAST member's (the recursive CTE
      carries the latest appended timestamp);
    - a group matches an event with fill == group fill, same price, opposite
      side, event within [group_ts, group_ts + max_delay];
    - one group per event: earliest group_ts wins (reference
      ``distinct on (event) order by trade_microtimestamp``; members-string
      tie-break added so both engines pick the same winner);
    - no trade reuse (reference ``for_update``): a surviving group must be
      the MINIMUM — by (event ts, group ts, members, event id) — among all
      groups sharing any member trade, computed per member and required for
      every member.

    Output: one row per matched member trade with its event link (the
    reference UPDATEs each member; we return the links).

    Documented deviations from the reference's sequential claiming:
    - subset enumeration is implemented for sizes 2 and 3 (plus the
      whole-set group); a larger ``max_group_size`` would silently match
      nothing in sizes 4..max, so it is rejected;
    - the no-reuse rule is resolved in ONE deterministic pass (a group
    survives only if it is the minimum among all groups sharing any
    member). A chain of overlapping candidate groups can therefore
    under-match relative to the reference's order-dependent FOR UPDATE
    loop (which claims greedily and re-tests against only the already-
    claimed set) — the one-shot rule is conservative: it never matches a
    trade twice and never picks a different event, it can only leave a
    contested trade unmatched. The gate fabric has no such chains, and
    both engines implement the same rule, so the hash check pins it.
    """
    if max_group_size > 3:
        raise ValueError(
            "subset enumeration is implemented for max_group_size <= 3 "
            "(sizes above 3 would silently produce no candidate groups)")
    delay = F.expr(f"INTERVAL {max_delay_s} SECOND")
    w_seq = W.partitionBy("pair_id", "era").orderBy("trade_microtimestamp",
                                                    "exchange_trade_id")
    t = trades.withColumn(
        "_new_set",
        F.when(
            (F.lag("price").over(w_seq) != F.col("price"))
            | (F.lag("origination").over(w_seq) != F.col("origination"))
            | F.lag("price").over(w_seq).isNull(),
            1,
        ).otherwise(0),
    ).withColumn(
        "set_id",
        F.sum("_new_set").over(w_seq.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    w_set_u = W.partitionBy("pair_id", "era", "set_id")
    w_set = w_set_u.orderBy("trade_microtimestamp", "exchange_trade_id")
    t = (
        t.withColumn("pos", F.row_number().over(w_set))
        .withColumn("set_size", F.count("*").over(w_set_u))
        .withColumn("cum_fill", F.sum("fill").over(
            w_set.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .filter(F.col("set_size") <= max_set_size)
    )
    pk = ["pair_id", "era", "set_id"]
    # mem is referenced six times below (the three _m() subset legs, the
    # whole-set aggregate, and the final member join) — without a lineage
    # cut each reference re-derives the whole 4-window set-id pipeline
    # with its own shuffle (~24 window stages of pure overhead, measured
    # 3 s fixed cost on an 8-trade input). Materialize it once. Lazy on
    # purpose (r16 A/B): eager — the winnow_pairs concurrent-
    # materialization fix — measured marginally SLOWER here (warm 3.1-3.5
    # vs 2.6-2.9 s at sf0.1): the extra barrier job costs more than the
    # rarely-firing broadcast-build race on this frame.
    mem = t.select(*pk, "price", "origination", "set_size", "pos", "fill",
                   F.col("trade_microtimestamp").alias("ts"),
                   "exchange_trade_id", "cum_fill").localCheckpoint(eager=False)

    def _m(i: int):
        return mem.select(
            *pk, "price", "origination",
            F.col("pos").alias(f"pos{i}"), F.col("fill").alias(f"fill{i}"),
            F.col("ts").alias(f"ts{i}"),
        ) if i == 1 else mem.select(
            *pk, F.col("pos").alias(f"pos{i}"), F.col("fill").alias(f"fill{i}"),
            F.col("ts").alias(f"ts{i}"),
        )

    lp = lambda c: F.lpad(F.col(c).cast("string"), 2, "0")  # noqa: E731
    pairs = _m(1).join(_m(2), pk).filter(F.col("pos2") > F.col("pos1"))
    groups2 = pairs.select(
        *pk, "price", "origination", F.lit(2).alias("group_size"),
        (F.col("fill1") + F.col("fill2")).alias("group_fill"),
        F.col("ts2").alias("group_ts"),
        F.concat(lp("pos1"), lp("pos2")).alias("members"),
        F.array("pos1", "pos2").alias("member_pos"),
    )
    groups = groups2
    if max_group_size >= 3:
        triples = pairs.join(_m(3), pk).filter(F.col("pos3") > F.col("pos2"))
        groups3 = triples.select(
            *pk, "price", "origination", F.lit(3).alias("group_size"),
            ((F.col("fill1") + F.col("fill2")) + F.col("fill3")).alias("group_fill"),
            F.col("ts3").alias("group_ts"),
            F.concat(lp("pos1"), lp("pos2"), lp("pos3")).alias("members"),
            F.array("pos1", "pos2", "pos3").alias("member_pos"),
        )
        groups = groups.unionByName(groups3)
    # whole set when it exceeds the group-size cap (reference matches_by_sets)
    whole = (
        mem.filter(F.col("set_size") > max_group_size)
        .groupBy(*pk, "price", "origination", "set_size")
        .agg(
            F.max_by("cum_fill", "pos").alias("group_fill"),
            F.max("ts").alias("group_ts"),
            F.concat_ws("", F.array_sort(
                F.collect_list(F.lpad(F.col("pos").cast("string"), 2, "0")))).alias("members"),
            F.array_sort(F.collect_list("pos")).alias("member_pos"),
        )
        .select(*pk, "price", "origination",
                F.col("set_size").alias("group_size"),
                "group_fill", "group_ts", "members", "member_pos")
    )
    groups = groups.unionByName(whole)

    ev = l3.filter(F.col("fill") > 0).select(
        "pair_id", "era", F.col("microtimestamp").alias("ev_ts"),
        "order_id", "event_no", "side",
        F.col("price").alias("ev_price"), F.col("fill").alias("ev_fill"),
    )
    j = groups.join(ev, ["pair_id", "era"]).filter(
        (F.col("ev_price") == F.col("price"))
        & (F.col("ev_fill") == F.col("group_fill"))
        & (F.col("side") != F.col("origination"))
        & (F.col("ev_ts") >= F.col("group_ts"))
        & (F.col("ev_ts") <= F.col("group_ts") + delay)
    )
    w_ev = W.partitionBy("pair_id", "era", "order_id", "event_no", "ev_ts").orderBy(
        "group_ts", "members")
    picked = j.withColumn("r", F.row_number().over(w_ev)).filter("r = 1").drop("r")
    # total order over picked groups for the overlap-minimality rule
    rank = F.concat(
        F.lpad(F.unix_micros("ev_ts").cast("string"), 20, "0"),
        F.lpad(F.unix_micros("group_ts").cast("string"), 20, "0"),
        F.col("members"),
        F.lpad(F.col("order_id").cast("string"), 12, "0"),
        F.lpad(F.col("event_no").cast("string"), 8, "0"),
    )
    exploded = picked.withColumn("rank", rank).withColumn(
        "mpos", F.explode("member_pos"))
    w_m = W.partitionBy("pair_id", "era", "set_id", "mpos")
    surv = (
        exploded.withColumn("min_rank", F.min("rank").over(w_m))
        .withColumn("is_min", (F.col("rank") == F.col("min_rank")).cast("int"))
        .groupBy(*pk, "members", "rank", "group_size", "group_fill", "group_ts",
                 "ev_ts", "order_id", "event_no", "side", "price")
        .agg(F.min("is_min").alias("all_min"),
             F.collect_list("mpos").alias("mposs"))
        .filter("all_min = 1")
    )
    out = surv.select(*pk, "group_size", "ev_ts", "order_id", "event_no",
                      "side", F.explode("mposs").alias("pos"))
    return (
        out.join(mem.select(*pk, "pos", "exchange_trade_id",
                            F.col("ts").alias("trade_microtimestamp"),
                            F.col("fill").alias("amount"), "price", "origination"),
                 [*pk, "pos"])
        .select(
            "pair_id", "exchange_trade_id", "trade_microtimestamp", "amount",
            "price", "origination", "group_size",
            F.col("ev_ts").alias("event_microtimestamp"),
            "order_id", "event_no", "side",
        )
    )


def match_sum_of_fills_oracle_sql(max_delay_s: int = 1, max_group_size: int = 3,
                                  max_set_size: int = 10,
                                  trades_cte: str = "sof_trades") -> str:
    """DuckDB mirror of :func:`match_sum_of_fills`; expects a CTE named
    ``trades_cte`` providing (pair_id, era, exchange_trade_id,
    trade_microtimestamp, price, fill, origination)."""
    return f"""
WITH tset AS (
    SELECT *,
           sum(_new_set) OVER (PARTITION BY pair_id, era
                               ORDER BY trade_microtimestamp, exchange_trade_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS set_id
    FROM (
        SELECT *,
               CASE WHEN lag(price) OVER w IS NULL
                      OR lag(price) OVER w <> price
                      OR lag(origination) OVER w <> origination
                    THEN 1 ELSE 0 END AS _new_set
        FROM {trades_cte}
        WINDOW w AS (PARTITION BY pair_id, era
                     ORDER BY trade_microtimestamp, exchange_trade_id)
    ) x
), mem AS (
    SELECT * FROM (
        SELECT pair_id, era, set_id, price, origination,
               row_number() OVER ws AS pos,
               count(*) OVER (PARTITION BY pair_id, era, set_id) AS set_size,
               sum(fill) OVER (ws ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_fill,
               fill, trade_microtimestamp AS ts, exchange_trade_id
        FROM tset
        WINDOW ws AS (PARTITION BY pair_id, era, set_id
                      ORDER BY trade_microtimestamp, exchange_trade_id)
    ) y WHERE set_size <= {max_set_size}
), g2 AS (
    SELECT a.pair_id, a.era, a.set_id, a.price, a.origination,
           2 AS group_size, a.fill + b.fill AS group_fill, b.ts AS group_ts,
           lpad(CAST(a.pos AS VARCHAR), 2, '0') || lpad(CAST(b.pos AS VARCHAR), 2, '0') AS members,
           [a.pos, b.pos] AS member_pos
    FROM mem a JOIN mem b
      ON a.pair_id = b.pair_id AND a.era = b.era AND a.set_id = b.set_id
     AND b.pos > a.pos
), g3 AS (
    SELECT a.pair_id, a.era, a.set_id, a.price, a.origination,
           3 AS group_size, (a.fill + b.fill) + c.fill AS group_fill, c.ts AS group_ts,
           lpad(CAST(a.pos AS VARCHAR), 2, '0') || lpad(CAST(b.pos AS VARCHAR), 2, '0')
               || lpad(CAST(c.pos AS VARCHAR), 2, '0') AS members,
           [a.pos, b.pos, c.pos] AS member_pos
    FROM mem a
    JOIN mem b ON a.pair_id = b.pair_id AND a.era = b.era AND a.set_id = b.set_id
              AND b.pos > a.pos
    JOIN mem c ON a.pair_id = c.pair_id AND a.era = c.era AND a.set_id = c.set_id
              AND c.pos > b.pos
), gw AS (
    SELECT pair_id, era, set_id, price, origination,
           CAST(set_size AS INT) AS group_size,
           max_by(cum_fill, pos) AS group_fill, max(ts) AS group_ts,
           string_agg(lpad(CAST(pos AS VARCHAR), 2, '0'), '' ORDER BY pos) AS members,
           list_sort(list(pos)) AS member_pos
    FROM mem WHERE set_size > {max_group_size}
    GROUP BY pair_id, era, set_id, price, origination, set_size
), groups AS (
    SELECT * FROM g2
    {"UNION ALL SELECT * FROM g3" if max_group_size >= 3 else ""}
    UNION ALL SELECT * FROM gw
), j AS (
    SELECT g.*, e.microtimestamp AS ev_ts, e.order_id, e.event_no, e.side
    FROM groups g JOIN level3 e
      ON e.pair_id = g.pair_id AND e.era = g.era
     AND e.fill > 0 AND e.price = g.price AND e.fill = g.group_fill
     AND e.side <> g.origination
     AND e.microtimestamp >= g.group_ts
     AND e.microtimestamp <= g.group_ts + INTERVAL {max_delay_s} SECOND
), picked AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY pair_id, era, order_id, event_no, ev_ts
            ORDER BY group_ts, members) AS r
        FROM j) z WHERE r = 1
), ranked AS (
    SELECT *,
           lpad(CAST(epoch_us(ev_ts) AS VARCHAR), 20, '0')
           || lpad(CAST(epoch_us(group_ts) AS VARCHAR), 20, '0')
           || members
           || lpad(CAST(order_id AS VARCHAR), 12, '0')
           || lpad(CAST(event_no AS VARCHAR), 8, '0') AS rank
    FROM picked
), exploded AS (
    SELECT r.*, u.mpos
    FROM ranked r, unnest(r.member_pos) AS u(mpos)
), surv AS (
    SELECT pair_id, era, set_id, members, group_size, ev_ts,
           order_id, event_no, side, list(mpos) AS mposs
    FROM (
        SELECT *, min(rank) OVER (PARTITION BY pair_id, era, set_id, mpos) AS min_rank
        FROM exploded) z
    GROUP BY pair_id, era, set_id, members, rank, group_size, ev_ts,
             order_id, event_no, side
    HAVING min(CASE WHEN rank = min_rank THEN 1 ELSE 0 END) = 1
)
SELECT s.pair_id, m.exchange_trade_id, m.ts AS trade_microtimestamp,
       m.fill AS amount, m.price, m.origination, s.group_size,
       s.ev_ts AS event_microtimestamp, s.order_id, s.event_no, s.side
FROM (SELECT pair_id, era, set_id, group_size, ev_ts, order_id, event_no,
             side, unnest(mposs) AS pos
      FROM surv) s
JOIN mem m ON m.pair_id = s.pair_id AND m.era = s.era
          AND m.set_id = s.set_id AND m.pos = s.pos
"""


_IS_DEL = "chain_state = 'deleted'"
_IS_FILLISH = f"({_IS_DEL} OR event_no > 1)"
# the event columns of a candidate pair
_EVENT_COLS = ("pair_id", "era", "microtimestamp", "order_id", "event_no",
               "side", "amount", "fill", "price_microtimestamp", "is_del",
               "is_fillish")
# (SQL source, lead-column name) of the nine columns a candidate pair
# carries from its second event
_LEADS = (("microtimestamp", "n_microtimestamp"), ("order_id", "n_order_id"),
          ("event_no", "n_event_no"), ("side", "n_side"),
          ("amount", "n_amount"), ("fill", "n_fill"),
          ("price_microtimestamp", "n_pts"), (_IS_DEL, "n_is_del"),
          (_IS_FILLISH, "n_is_fillish"))


def sequential_event_pairs(l3: DataFrame,
                           offsets: Sequence[int] = (1,)) -> DataFrame:
    """The (event, lead(event, k)) candidate pairs of :func:`match_sequential`
    for every offset k in ``offsets``, one row per pair tagged
    ``sweep_offset``; tolerance-independent. Every offset's lead columns
    come from ONE window select over the per-(pair, era) stream, and the
    rows are exploded after it (a window cannot sit inside a generator).
    Written as SQL text: one driver round trip per select instead of
    several per Column."""
    w = ("OVER (PARTITION BY pair_id, era "
         "ORDER BY microtimestamp, order_id, event_no)")
    leads = l3.selectExpr(
        *_EVENT_COLS[:-2], f"{_IS_DEL} AS is_del",
        f"{_IS_FILLISH} AS is_fillish", *[
            f"lead({src}, {k}) {w} AS {dst}_{k}"
            for k in offsets for src, dst in _LEADS])
    pairs = ", ".join(
        f"named_struct('sweep_offset', {k}, "
        + ", ".join(f"'{dst}', {dst}_{k}" for _, dst in _LEADS) + ")"
        for k in offsets)
    return leads.selectExpr(*_EVENT_COLS, f"inline(array({pairs}))").filter(
        "side <> n_side AND is_fillish AND n_is_fillish")


def match_sequential(l3: DataFrame, trades: DataFrame,
                     tolerance_pct: float = 0.0001,
                     offset: int = 1) -> DataFrame:
    """I10 ``bitstamp.match_trades_to_sequential_events``: link a trade that
    knows its buy/sell ORDER ids (but not the events) to a pair of adjacent
    opposite-side events in the sequential event stream (reference
    db/bitstamp_schema.sql:1288-1372).

    ``trades`` columns: (pair_id, era, exchange_trade_id,
    trade_microtimestamp, amount, price, trade_type ('b' = taker bought),
    buy_order_id, sell_order_id).

    Mechanics, mirroring the reference CTE for CTE:
    - candidate event pairs = (event, lead(event, offset)) over the full
      per-(pair, era) event stream ordered by (microtimestamp, order_id,
      event_no) (the reference orders by microtimestamp alone — ties broken
      arbitrarily; the tie-break makes both engines pick the same pair),
      keeping only opposite-side pairs where neither event is an order
      creation;
    - join to trades on {event order ids} = {trade's buy/sell order ids}
      (both orientations);
    - both events must carry a non-NULL F7 match rule
      (:func:`match_rule`, tolerance = tolerance_pct × trade price);
    - aggressor-direction check: the maker (opposite of the taker side) must
      have the OLDER price_microtimestamp; ties go to the bid maker — the
      same deterministic refinement as :func:`inferred_trades` (the
      reference uses strict inequalities and drops ties);
    - an event may not participate in two trades (anti-join on the pair's
      second event, reference ``matches`` CTE), then one event pair per
      trade, the first in event order.

    The one-cell grid of :func:`match_sequential_grid`, without its
    provenance columns.
    """
    return match_sequential_grid(l3, trades, [(tolerance_pct, offset)]).drop(
        "tolerance", "sweep_offset")


# link columns the grid kernel carries through unchanged (the trade's
# amount and price: the candidate's t_amount / t_price)
_LINK_COLS = ("pair_id", "era", "exchange_trade_id", "trade_microtimestamp",
              "amount", "price", "trade_type", "buy_order_id",
              "sell_order_id")
# the candidate event pair, as the grid kernel reads it
_PAIR_COLS = ("ev_is_buy", "sweep_offset", "microtimestamp", "order_id",
              "event_no", "n_microtimestamp", "n_order_id", "n_event_no")


def match_sequential_grid(l3: DataFrame, trades: DataFrame,
                          grid: Sequence[tuple[float, int]],
                          claimed: DataFrame | None = None) -> DataFrame:
    """:func:`match_sequential` once per (tolerance_pct, offset) cell of
    ``grid``, in order, each cell over the trades no earlier cell matched
    and the events no earlier cell claimed. ``claimed`` seeds the claims
    with (pair_id, era, microtimestamp, order_id, event_no) rows. Returns
    the link columns plus the cell that matched each trade: ``tolerance``
    and ``sweep_offset``.

    Spark builds the candidate frame once: every offset's event pairs
    joined to the trades, kept where both events carry a rule at the
    grid's largest tolerance (the rule's non-NULL set is monotone in
    tolerance) and the direction check holds, minus the seeded claims
    (after the lead window, so claimed events still occupy stream
    positions), plus one ``mr{i}``/``n_mr{i}`` rule-code pair per grid
    tolerance. :func:`_resolve_grid` then runs the cells over each pair's
    candidates in one grouped pass. The groups are pairs, not eras: the
    matched-trade exclusion and the per-trade pick are keyed
    (pair_id, exchange_trade_id). Lazy: no job runs at call time."""
    tols = list(dict.fromkeys(t for t, _ in grid))
    cand = match_feasible(match_candidates(
        sequential_event_pairs(l3, sorted({k for _, k in grid})), trades),
        max(tols))
    if claimed is not None:
        key = ["pair_id", "era", "microtimestamp", "order_id", "event_no"]
        n_key = key[:2] + [f"n_{c}" for c in key[2:]]
        n_claimed = claimed.selectExpr(
            *[f"{c} AS {n}" for c, n in zip(key, n_key)])
        cand = cand.join(F.broadcast(claimed), key, "left_anti").join(
            F.broadcast(n_claimed), n_key, "left_anti")
    cand = cand.selectExpr(
        *[f"t_{c} AS {c}" if c in ("amount", "price") else c
          for c in _LINK_COLS],
        *_PAIR_COLS, *[f"{match_rule_sql(p, t)} AS {p}mr{i}"
                       for i, t in enumerate(tols) for p in ("", "n_")])
    types = {f.name: f.dataType.simpleString() for f in cand.schema}
    types["match_rule"] = types["mr0"]
    schema = ", ".join(
        [f"{c} {types[c]}" for c in _LINK_COLS]
        + [f"{side}_{c} {types[c]}" for side in ("buy", "sell")
           for c in ("microtimestamp", "event_no", "match_rule")]
        + ["tolerance double", "sweep_offset int"])
    cells = [(tols.index(t), float(t), k) for t, k in grid]
    return ordered_fold(cand, partial(_resolve_grid, cells=cells), schema,
                        keys=("pair_id",))


def _ids(*cols: np.ndarray) -> np.ndarray:
    """Dense integer id of each row's tuple over ``cols``."""
    return pd.MultiIndex.from_arrays(cols).factorize()[0]


def _resolve_grid(pdf: pd.DataFrame,
                  cells: list[tuple[int, float, int]]) -> pd.DataFrame:
    """One pair's candidates through the grid ``cells`` of
    (tolerance index, tolerance, offset), in order; ``pdf`` is in event
    order. Each cell:

    1. keeps its offset's rows whose rule codes are non-NULL at its
       tolerance, whose trade is not yet matched and neither of whose
       events is claimed (claim key: era, microtimestamp, order_id,
       event_no);
    2. drops the rows whose (era, order_id, event_no) is any kept row's
       second event (the reference ``matches`` CTE);
    3. keeps the first remaining row per trade;
    4. emits those, then marks their trades matched and both their events
       claimed.

    Memory: one pair's feasible candidates (a few rows per trade); the
    O(events) lead window stays in Spark."""
    n = len(pdf)
    col = {c: pdf[c].to_numpy() for c in _LINK_COLS + _PAIR_COLS}
    trade = pd.factorize(col["exchange_trade_id"])[0]
    era = np.concatenate([col["era"], col["era"]])
    oid = np.concatenate([col["order_id"], col["n_order_id"]])
    eno = np.concatenate([col["event_no"], col["n_event_no"]])
    ev = _ids(era, np.concatenate([col["microtimestamp"],
                                   col["n_microtimestamp"]]), oid, eno)
    oe = _ids(era, oid, eno)
    mr, n_mr = (pdf.filter(regex=rf"^{p}mr\d+$").to_numpy(
        "f8", na_value=np.nan) for p in ("", "n_"))
    ruled = ~np.isnan(mr) & ~np.isnan(n_mr)
    matched, claimed = np.zeros(n, bool), np.zeros(2 * n, bool)
    picks = []
    for i, _, k in cells:
        keep = ((col["sweep_offset"] == k) & ruled[:, i] & ~matched[trade]
                & ~claimed[ev[:n]] & ~claimed[ev[n:]])
        seconds = np.zeros(2 * n, bool)
        seconds[oe[n:][keep]] = True
        rows = np.flatnonzero(keep & ~seconds[oe[:n]])
        rows = np.sort(rows[np.unique(trade[rows], return_index=True)[1]])
        matched[trade[rows]] = True
        claimed[ev[:n][rows]] = claimed[ev[n:][rows]] = True
        picks.append(rows)
    sizes = [len(r) for r in picks]
    rows = np.concatenate(picks)
    ti = np.repeat([i for i, _, _ in cells], sizes)
    buy = col["ev_is_buy"][rows]
    out = {c: col[c][rows] for c in _LINK_COLS}
    for side, first in (("buy", buy), ("sell", ~buy)):
        out[f"{side}_microtimestamp"] = np.where(
            first, col["microtimestamp"][rows], col["n_microtimestamp"][rows])
        out[f"{side}_event_no"] = np.where(
            first, col["event_no"][rows], col["n_event_no"][rows])
        out[f"{side}_match_rule"] = np.where(
            first, mr[rows, ti], n_mr[rows, ti]).astype("i4")
    out["tolerance"] = np.repeat([t for _, t, _ in cells], sizes)
    out["sweep_offset"] = np.repeat([k for _, _, k in cells], sizes).astype("i4")
    return pd.DataFrame(out)


def match_candidates(ev: DataFrame, trades: DataFrame) -> DataFrame:
    """The tolerance-INDEPENDENT half of :func:`match_sequential`: join
    the (event, lead-offset event) pair frame to the trades on order ids,
    both orientations. It depends on (l3, offsets, trades) only, so a
    whole tolerance grid shares one candidate frame. The trade's columns
    keep their ``t_``-prefixed join names."""
    # both orientations as ONE equi-join: explode each trade into its two
    # (first event, second event) order-id orientations and join once.
    # Semantically identical to the union of the buy-first and sell-first
    # joins, but the ev lead-window pipeline and the trades input are each
    # evaluated once instead of twice — at the gate, where `trades` is the
    # full inferred_trades derivation, that halves the physical plan.
    # Join keys get t_-prefixed names: `trades` commonly shares lineage
    # with `l3` (closed-loop gates derive it FROM the event log), and
    # fresh names sidestep the ambiguous-self-join attribute trap
    t2 = trades.selectExpr(
        "pair_id AS t_pair_id", "era AS t_era", "exchange_trade_id",
        "trade_microtimestamp", "amount AS t_amount", "price AS t_price",
        "trade_type", "buy_order_id", "sell_order_id",
        "inline(array(named_struct('ev_is_buy', true, '_first_oid', "
        "buy_order_id, '_second_oid', sell_order_id), named_struct("
        "'ev_is_buy', false, '_first_oid', sell_order_id, '_second_oid', "
        "buy_order_id)))")
    return ev.join(t2, F.expr(
        "pair_id = t_pair_id AND era = t_era AND order_id = _first_oid "
        "AND n_order_id = _second_oid"))


def match_feasible(cand: DataFrame, max_tolerance_pct: float) -> DataFrame:
    """Prefilter of the candidate frame to rows that can match in SOME
    cell of a tolerance grid: the F7 rule's non-NULL set is monotone in
    tolerance (its only tolerance terms are ``< tolerance`` bounds), so a
    row whose rule is NULL at the grid's LARGEST tolerance is NULL in
    every cell; the aggressor-direction check is tolerance-independent.
    Rule CODES still shift with tolerance, so each cell reads its own."""
    return cand.filter(
        f"({match_rule_sql('', max_tolerance_pct)}) IS NOT NULL AND "
        f"({match_rule_sql('n_', max_tolerance_pct)}) IS NOT NULL AND "
        f"({_DIRECTION_SQL})")


def match_sequential_pairs_sql(offset: int = 1, source: str = "level3") -> str:
    """The ``sequential_event_pairs`` frame as a standalone DuckDB query —
    the (event, lead(event, offset)) candidate pairs. Tolerance-independent;
    a sweep oracle materializes one per offset."""
    return f"""
WITH ev AS (
    SELECT pair_id, era, microtimestamp, order_id, event_no, side, amount,
           fill, price_microtimestamp,
           chain_state = 'deleted' AS is_del,
           (chain_state = 'deleted' OR event_no > 1) AS is_fillish,
           lead(microtimestamp, {offset}) OVER m AS n_microtimestamp,
           lead(order_id, {offset}) OVER m AS n_order_id,
           lead(event_no, {offset}) OVER m AS n_event_no,
           lead(side, {offset}) OVER m AS n_side,
           lead(amount, {offset}) OVER m AS n_amount,
           lead(fill, {offset}) OVER m AS n_fill,
           lead(price_microtimestamp, {offset}) OVER m AS n_pts,
           lead(chain_state = 'deleted', {offset}) OVER m AS n_is_del,
           lead(chain_state = 'deleted' OR event_no > 1, {offset}) OVER m AS n_is_fillish
    FROM {source}
    WINDOW m AS (PARTITION BY pair_id, era
                 ORDER BY microtimestamp, order_id, event_no)
)
SELECT * FROM ev
WHERE side <> n_side AND is_fillish AND n_is_fillish
"""


def match_sequential_body_sql(tolerance_pct: float, trades_cte: str,
                              pairs_cte: str,
                              exclude_cte: str | None = None) -> str:
    """One :func:`match_sequential` evaluation as a standalone DuckDB query
    reading candidate pairs from ``pairs_cte`` (a
    :func:`match_sequential_pairs_sql` result visible in an outer scope) and
    trades from ``trades_cte``. ``exclude_cte``, when given, names an outer
    (pair_id, era, order_id, event_no) frame of already-claimed events —
    pairs touching one are skipped, the reference's ``trade_id is null AND
    n_trade_id is null`` filter (db/bitstamp_schema.sql:1319-1320) applied
    AFTER the lead window, so claimed events still occupy stream positions."""
    excl = ""
    if exclude_cte is not None:
        # claim key = the FULL level3 identity incl. microtimestamp —
        # (order_id, event_no) repeats across reincarnation lives
        excl = f"""
      AND NOT EXISTS (SELECT 1 FROM {exclude_cte} c
            WHERE c.pair_id = e.pair_id AND c.era = e.era
              AND c.microtimestamp = e.microtimestamp
              AND c.order_id = e.order_id AND c.event_no = e.event_no)
      AND NOT EXISTS (SELECT 1 FROM {exclude_cte} c
            WHERE c.pair_id = e.pair_id AND c.era = e.era
              AND c.microtimestamp = e.n_microtimestamp
              AND c.order_id = e.n_order_id AND c.event_no = e.n_event_no)"""
    return f"""
WITH cand AS (
    SELECT e.*, t.exchange_trade_id, t.trade_microtimestamp,
           t.amount AS t_amount, t.price AS t_price, t.trade_type,
           t.buy_order_id, t.sell_order_id,
           e.order_id = t.buy_order_id AS ev_is_buy
    FROM {pairs_cte} e JOIN {trades_cte} t
      ON e.pair_id = t.pair_id AND e.era = t.era
     AND ((e.order_id = t.buy_order_id AND e.n_order_id = t.sell_order_id)
       OR (e.order_id = t.sell_order_id AND e.n_order_id = t.buy_order_id))
    WHERE TRUE{excl}
), proposed AS (
    SELECT *,
           CASE WHEN t_amount = fill THEN 0
                WHEN abs(t_amount * t_price - fill * t_price)
                     < {tolerance_pct} * t_price THEN 1
                WHEN fill IS NULL THEN 2
                WHEN is_del AND fill = 0
                 AND abs(t_amount * t_price - amount * t_price)
                     < {tolerance_pct} * t_price THEN 3
           END AS mr,
           CASE WHEN t_amount = n_fill THEN 0
                WHEN abs(t_amount * t_price - n_fill * t_price)
                     < {tolerance_pct} * t_price THEN 1
                WHEN n_fill IS NULL THEN 2
                WHEN n_is_del AND n_fill = 0
                 AND abs(t_amount * t_price - n_amount * t_price)
                     < {tolerance_pct} * t_price THEN 3
           END AS n_mr,
           CASE WHEN ev_is_buy THEN price_microtimestamp ELSE n_pts END AS buy_pts,
           CASE WHEN ev_is_buy THEN n_pts ELSE price_microtimestamp END AS sell_pts
    FROM cand
), filt AS (
    SELECT * FROM proposed
    WHERE mr IS NOT NULL AND n_mr IS NOT NULL
      AND ((trade_type = 'b' AND sell_pts < buy_pts)
        OR (trade_type = 's' AND buy_pts <= sell_pts))
), no_reuse AS (
    SELECT o.* FROM filt o
    WHERE NOT EXISTS (
        SELECT 1 FROM filt i
        WHERE i.pair_id = o.pair_id AND i.era = o.era
          AND i.n_order_id = o.order_id AND i.n_event_no = o.event_no)
)
SELECT pair_id, era, exchange_trade_id, trade_microtimestamp,
       t_amount AS amount, t_price AS price, trade_type,
       buy_order_id, sell_order_id,
       CASE WHEN ev_is_buy THEN microtimestamp ELSE n_microtimestamp END AS buy_microtimestamp,
       CASE WHEN ev_is_buy THEN event_no ELSE n_event_no END AS buy_event_no,
       CASE WHEN ev_is_buy THEN mr ELSE n_mr END AS buy_match_rule,
       CASE WHEN NOT ev_is_buy THEN microtimestamp ELSE n_microtimestamp END AS sell_microtimestamp,
       CASE WHEN NOT ev_is_buy THEN event_no ELSE n_event_no END AS sell_event_no,
       CASE WHEN NOT ev_is_buy THEN mr ELSE n_mr END AS sell_match_rule
FROM (SELECT *, row_number() OVER (
          PARTITION BY pair_id, exchange_trade_id
          ORDER BY microtimestamp, order_id, event_no) AS r
      FROM no_reuse) z
WHERE r = 1
"""


def match_sequential_oracle_sql(tolerance_pct: float = 0.0001,
                                offset: int = 1,
                                trades_cte: str = "seq_trades") -> str:
    """DuckDB mirror of one :func:`match_sequential` call; expects a CTE
    named ``trades_cte`` with the trades-input columns already defined.
    Composed from :func:`match_sequential_pairs_sql` +
    :func:`match_sequential_body_sql` (nested WITH inside a CTE body is
    lexically scoped in DuckDB, so the body's own CTEs see ``seq_pairs``)."""
    return f"""
WITH seq_pairs AS (
{match_sequential_pairs_sql(offset)}
), seq_result AS (
{match_sequential_body_sql(tolerance_pct, trades_cte, "seq_pairs")}
)
SELECT * FROM seq_result
"""


def inferred_trades(l3: DataFrame, max_delay_us: int = 500_000,
                    tolerance: float = 1e-9) -> DataFrame:
    """I9: pair opposite-side fill events into inferred trades. The maker is
    the side with the older price_microtimestamp (tie → the bid, a
    deterministic refinement); trade price/microtimestamp come from the
    maker; the trade direction is the taker's side."""
    f = l3.filter(F.col("fill") > 0)
    b = f.filter(F.col("side") == "b").select(
        "pair_id", "era",
        F.col("microtimestamp").alias("b_ts"), F.col("order_id").alias("b_oid"),
        F.col("event_no").alias("b_eno"), F.col("price").alias("b_price"),
        F.col("fill").alias("b_fill"),
        F.col("price_microtimestamp").alias("b_pts"),
    )
    s = f.filter(F.col("side") == "s").select(
        "pair_id", "era",
        F.col("microtimestamp").alias("s_ts"), F.col("order_id").alias("s_oid"),
        F.col("event_no").alias("s_eno"), F.col("price").alias("s_price"),
        F.col("fill").alias("s_fill"),
        F.col("price_microtimestamp").alias("s_pts"),
    )
    # time-bucketed equi-join: |b_ts − s_ts| <= delay implies the two events'
    # delay-sized buckets are equal or adjacent, so exploding the buy side
    # into (k−1, k, k+1) turns the interval predicate into an equi-join —
    # without this, joining on (pair, era) alone is a per-group cross product
    # (the 100 TB killer; observed 20x slowdown already at sf0.1)
    bk_b = F.expr(f"unix_micros(b_ts) div {max_delay_us}")
    bk_s = F.expr(f"unix_micros(s_ts) div {max_delay_us}")
    b_bucketed = b.withColumn("_bk", F.explode(F.array(bk_b - 1, bk_b, bk_b + 1)))
    s_bucketed = s.withColumn("_bk", bk_s)
    cand = b_bucketed.join(s_bucketed, ["pair_id", "era", "_bk"]).drop("_bk").filter(
        (F.abs(F.unix_micros("b_ts") - F.unix_micros("s_ts")) <= max_delay_us)
        & (F.abs(F.col("b_fill") - F.col("s_fill")) <= tolerance)
    )
    w_b = W.partitionBy("pair_id", "b_oid", "b_eno", "b_ts").orderBy(
        F.abs(F.unix_micros("b_ts") - F.unix_micros("s_ts")), "s_oid", "s_eno", "s_ts")
    w_s = W.partitionBy("pair_id", "s_oid", "s_eno", "s_ts").orderBy(
        F.abs(F.unix_micros("b_ts") - F.unix_micros("s_ts")), "b_oid", "b_eno", "b_ts")
    picked = (
        cand.withColumn("rb", F.row_number().over(w_b))
        .withColumn("rs", F.row_number().over(w_s))
        .filter((F.col("rb") == 1) & (F.col("rs") == 1))
    )
    maker_is_bid = F.col("b_pts") <= F.col("s_pts")
    return picked.select(
        "pair_id",
        F.when(maker_is_bid, F.col("b_ts")).otherwise(F.col("s_ts")).alias("microtimestamp"),
        F.when(maker_is_bid, F.col("b_price")).otherwise(F.col("s_price")).alias("price"),
        F.col("b_fill").alias("amount"),
        # direction = the taker's side
        F.when(maker_is_bid, "s").otherwise("b").alias("side"),
        # both sides' event links INCLUDING their microtimestamps (the
        # bitstamp live_trades shape, db/bitstamp_schema.sql:2390-2408 —
        # consumed by the Q5 staging repairs)
        F.col("b_ts").alias("buy_microtimestamp"),
        F.col("b_oid").alias("buy_order_id"), F.col("b_eno").alias("buy_event_no"),
        F.col("s_ts").alias("sell_microtimestamp"),
        F.col("s_oid").alias("sell_order_id"), F.col("s_eno").alias("sell_event_no"),
    )


def inferred_trades_oracle_sql(max_delay_us: int = 500_000,
                               tolerance: float = 1e-9) -> str:
    return f"""
WITH f AS (
    SELECT * FROM level3 WHERE fill > 0
), b AS (
    SELECT pair_id, era, microtimestamp AS b_ts, order_id AS b_oid,
           event_no AS b_eno, price AS b_price, fill AS b_fill,
           price_microtimestamp AS b_pts
    FROM f WHERE side = 'b'
), s AS (
    SELECT pair_id, era, microtimestamp AS s_ts, order_id AS s_oid,
           event_no AS s_eno, price AS s_price, fill AS s_fill,
           price_microtimestamp AS s_pts
    FROM f WHERE side = 's'
), cand AS (
    SELECT b.*, s.s_ts, s.s_oid, s.s_eno, s.s_price, s.s_fill, s.s_pts
    FROM b JOIN s ON b.pair_id = s.pair_id AND b.era = s.era
    WHERE abs(epoch_us(b_ts) - epoch_us(s_ts)) <= {max_delay_us}
      AND abs(b_fill - s_fill) <= {tolerance}
), picked AS (
    SELECT *,
           row_number() OVER (PARTITION BY pair_id, b_oid, b_eno, b_ts
                              ORDER BY abs(epoch_us(b_ts) - epoch_us(s_ts)), s_oid, s_eno, s_ts) AS rb,
           row_number() OVER (PARTITION BY pair_id, s_oid, s_eno, s_ts
                              ORDER BY abs(epoch_us(b_ts) - epoch_us(s_ts)), b_oid, b_eno, b_ts) AS rs
    FROM cand
)
SELECT pair_id,
       CASE WHEN b_pts <= s_pts THEN b_ts ELSE s_ts END AS microtimestamp,
       CASE WHEN b_pts <= s_pts THEN b_price ELSE s_price END AS price,
       b_fill AS amount,
       CASE WHEN b_pts <= s_pts THEN 's' ELSE 'b' END AS side,
       b_ts AS buy_microtimestamp,
       b_oid AS buy_order_id, b_eno AS buy_event_no,
       s_ts AS sell_microtimestamp,
       s_oid AS sell_order_id, s_eno AS sell_event_no
FROM picked WHERE rb = 1 AND rs = 1
"""
