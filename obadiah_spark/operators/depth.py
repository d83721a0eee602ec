"""Depth (level2) derivation — declarative forms.

Reference parity:
- D2 ``depth_change_by_episode_slow`` + ``_depth_change(ob,ob)`` — declarative
  per-episode (price, side) volume changes (reference
  db/obanalytics_schema.sql:1236-1267,625-639). The reference computes it as
  book-vs-book full-outer joins; we use the equivalent *event-delta* form:
  every level3 event contributes +amount at its (side, price) and −prev_amount
  at the previous (side, price) of the same chain — linear, one shuffle, no
  quadratic snapshot join.
- D1 ``depth_change_by_episode_fast`` is the fold in ``obadiah_spark.fold``
  (``depth_change_fold``); this module is its differential-testing oracle
  shape (the reference's own fast-vs-slow strategy).

Scale: the delta form is a window over (order_id, era) + one grouped
aggregation — both shuffle on bounded keys, no joins against snapshots, and
survive 100× data without plan change.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from obadiah_spark.fold import BucketFolder, fold_at, period_fold
from obadiah_spark.operators.order_book import live_at


# ------------------------------------------- F1 frequency-grid helpers ------
#
# The reference rounds at WHOLE-SECOND granularity (get._date_floor /
# _date_ceiling truncate the epoch to integer seconds before dividing,
# db/get_schema.sql:60-87):
#   floor(ts, f)   = (trunc(epoch_s(ts))        // f)     * f
#   ceiling(ts, f) = (trunc(epoch_s(ts − 1µs))  // f + 1) * f
# so a timestamp exactly on the grid ceils to itself, and anything in
# (P, P+f] ceils to P+f — the *closed-right* boundary convention the R
# client's frequency overloads rely on (get_schema.sql:248-253,263-267; C
# cursor alignment db/c/obadiah_db/episode.cpp:91-101 applies the ceiling to
# every level3 microtimestamp before folding, collapsing each interval into
# one episode stamped at its right boundary).

def date_floor_s(ts: str, frequency_s: int) -> str:
    """Python-side _date_floor for constant bounds (exact integer math)."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc)
    sec = int(dt.timestamp()) // frequency_s * frequency_s
    return datetime.fromtimestamp(sec, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def date_ceiling_s(ts: str, frequency_s: int) -> str:
    """Python-side _date_ceiling for constant bounds (exact integer math)."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc)
    us = int(dt.timestamp() * 1_000_000)
    sec = ((us - 1) // 1_000_000 // frequency_s + 1) * frequency_s
    return datetime.fromtimestamp(sec, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def grid_ceil_col(col: str, frequency_s: int):
    """Spark column: _date_ceiling(col, frequency) — integer µs arithmetic
    (a double division would lose precision at ~1.7e18 µs)."""
    f = int(frequency_s)
    return F.expr(
        f"timestamp_micros((((unix_micros({col}) - 1) DIV 1000000 DIV {f} + 1)"
        f" * {f}) * 1000000)")


def grid_last(l1: DataFrame, frequency_s: int, cols: list[str]) -> DataFrame:
    """The last level1 state (``cols``) of each closed-right grid interval
    per (pair, era), stamped at the interval's right boundary — the
    reference's level1_continuous with p_frequency (get_schema.sql:339)."""
    return (
        l1.withColumn("_g_ts", grid_ceil_col("microtimestamp", frequency_s))
        .groupBy("pair_id", "era", "_g_ts")
        .agg(F.max_by(F.struct(*cols), F.col("microtimestamp")).alias("_s"))
        .select("pair_id", "era", F.col("_g_ts").alias("microtimestamp"),
                *[F.col(f"_s.{c}").alias(c) for c in cols])
    )


def grid_ceil_sql(col: str, frequency_s: int) -> str:
    """DuckDB mirror of :func:`grid_ceil_col` (same integer op sequence)."""
    f = int(frequency_s)
    return (f"make_timestamp((((epoch_us({col}) - 1) // 1000000 // {f} + 1)"
            f" * {f}) * 1000000)")


def grid_sample_l3(l3: DataFrame, frequency_s: int) -> DataFrame:
    """The reference's ``p_frequency`` sampling applied AT THE SOURCE: map
    every event (and its chain pointer) onto the closed-right
    ``_date_ceiling`` grid before any episode grouping.

    This is how the reference feeds its C analytics at a frequency —
    ``level2_continuous(..., p_frequency)`` collapses all episodes inside
    one interval into a single episode at the right boundary
    (db/get_schema.sql:285-287; cursor fold episode.cpp:91-101). Ceiling
    the event log once up front gives every downstream fold the same
    semantics: per-order chain order is preserved (event_no tiebreak) and
    cross-order application commutes within an interval, so the book state
    at each grid point is exact. ``next_microtimestamp`` is ceiled too —
    it always equals the chained successor's microtimestamp, so the
    pointer stays consistent with the resampled stream (the period-fold
    boundary probes rely on that)."""
    out = l3.withColumn(
        "microtimestamp", grid_ceil_col("microtimestamp", frequency_s))
    if "next_microtimestamp" in out.columns:
        out = out.withColumn(
            "next_microtimestamp",
            grid_ceil_col("next_microtimestamp", frequency_s))
    return out


def grid_sample_l3_sql(body: str, frequency_s: int) -> str:
    """DuckDB mirror of :func:`grid_sample_l3` for oracle bodies: every
    ``level3`` reference is redirected to a grid-ceiled projection,
    introduced as a prepended CTE. Token-level rewrite (word-boundary
    regex) — aliased references (``FROM level3 x``, correlated probes)
    stay valid, unlike a naive ``FROM level3`` string substitution."""
    import re

    ceil_ts = grid_ceil_sql("microtimestamp", frequency_s)
    ceil_next = grid_ceil_sql("next_microtimestamp", frequency_s)
    cte = (f"level3_gridded AS (SELECT * REPLACE ({ceil_ts} AS "
           f"microtimestamp, {ceil_next} AS next_microtimestamp) "
           f"FROM level3)")
    redirected = re.sub(r"\blevel3\b", "level3_gridded", body)
    stripped = redirected.lstrip()
    if stripped[:14].upper() == "WITH RECURSIVE":
        return f"\nWITH RECURSIVE {cte},\n{stripped[14:].lstrip()}"
    if stripped[:4].upper() == "WITH":
        return f"\nWITH {cte},\n{stripped[4:].lstrip()}"
    if stripped[:6].upper() == "SELECT" or stripped[:1] == "(":
        return f"\nWITH {cte}\n{stripped}"
    # a bare CTE-list fragment (e.g. SPREAD_L1_CTES handed to another
    # oracle builder): prepend the gridded CTE, no WITH keyword — the
    # consumer supplies it
    return f"{cte},\n{stripped}"


def depth_change(l3: DataFrame, frequency_s: int | None = None) -> DataFrame:
    """D2: per-episode changed (side, price) levels with running volume.

    ``frequency_s`` applies the reference's closed-right grid convention:
    every event's microtimestamp is mapped to ``_date_ceiling(ts, f)``
    before grouping, so each frequency interval collapses into ONE episode
    at its right boundary and ``volume`` is the true level volume at that
    grid point (the net-delta sum is order-independent across orders, so
    collapsing is exact — same reason the reference can fold the ceiled
    cursor, episode.cpp:91-101)."""
    # life_no: chains restart per reincarnation (event_no is only unique
    # within a life) — the lag must never cross a delete/re-create boundary
    w_chain = W.partitionBy("order_id", "era", "life_no").orderBy("event_no")
    ep = (grid_ceil_col("microtimestamp", frequency_s)
          if frequency_s is not None else F.col("microtimestamp"))
    ev = l3.select(
        "pair_id", "era", ep.alias("microtimestamp"), "side", "price", "amount",
        "chain_state",
        F.lag("amount").over(w_chain).alias("prev_amount"),
        F.lag("price").over(w_chain).alias("prev_price"),
    )
    arrivals = ev.filter(F.col("chain_state") != "deleted").select(
        "pair_id", "era", "microtimestamp", "side",
        F.col("price").alias("p"), F.col("amount").alias("delta"),
    )
    removals = ev.filter(F.col("prev_amount").isNotNull()).select(
        "pair_id", "era", "microtimestamp", "side",
        F.col("prev_price").alias("p"), (-F.col("prev_amount")).alias("delta"),
    )
    changes = (
        arrivals.unionByName(removals)
        .groupBy("pair_id", "era", "microtimestamp", "side", F.col("p").alias("price"))
        .agg(F.sum("delta").alias("volume_change"))
        .filter(F.col("volume_change") != 0)
    )
    w_level = W.partitionBy("pair_id", "era", "side", "price").orderBy("microtimestamp")
    return changes.select(
        "pair_id", "microtimestamp", "side", "price",
        F.sum("volume_change").over(
            w_level.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("volume"),
        "volume_change",
    )


# Shared CTE list: event deltas → per-episode changed levels. Used by both the
# depth oracle and the linear spread oracle (wrap with synth.level3_cte).
DEPTH_CHANGES_CTES = """ev AS (
    SELECT pair_id, era, microtimestamp, side, price, amount, chain_state,
           lag(amount) OVER wev AS prev_amount,
           lag(price)  OVER wev AS prev_price
    FROM level3
    WINDOW wev AS (PARTITION BY order_id, era, life_no ORDER BY event_no)
), deltas AS (
    SELECT pair_id, era, microtimestamp, side, price AS p, amount AS delta
    FROM ev WHERE chain_state <> 'deleted'
    UNION ALL
    SELECT pair_id, era, microtimestamp, side, prev_price AS p, -prev_amount AS delta
    FROM ev WHERE prev_amount IS NOT NULL
), changes AS (
    SELECT pair_id, era, microtimestamp, side, p AS price, sum(delta) AS volume_change
    FROM deltas
    GROUP BY pair_id, era, microtimestamp, side, p
    HAVING sum(delta) <> 0
)"""

DEPTH_CHANGE_ORACLE_BODY = f"""
WITH {DEPTH_CHANGES_CTES}
SELECT pair_id, microtimestamp, side, price,
       sum(volume_change) OVER (
           PARTITION BY pair_id, era, side, price ORDER BY microtimestamp
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS volume,
       volume_change
FROM changes
"""

# Linear level1 derivation ending in CTE l1_dedup(pair_id, era, ts, best_*)
# so other oracles (get.events' as-of spread join) can build on it.
# Shape: change timeline × per-era price grid (bounded: only
# prices that ever change), running volume per level, best = extremal live
# price per episode, dedup-on-change. Replaces the quadratic
# episode×live-set join as the spread oracle at sf>=0.01 scale.
SPREAD_L1_CTES = f"""{DEPTH_CHANGES_CTES}, grid AS (
    SELECT e.pair_id, e.era, e.ts, p.side, p.price
    FROM (SELECT DISTINCT pair_id, era, microtimestamp AS ts FROM changes) e
    JOIN (SELECT DISTINCT pair_id, era, side, price FROM changes) p
      ON p.pair_id = e.pair_id AND p.era = e.era
), vol AS (
    SELECT g.pair_id, g.era, g.ts, g.side, g.price,
           sum(coalesce(c.volume_change, 0)) OVER (
               PARTITION BY g.pair_id, g.era, g.side, g.price ORDER BY g.ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS volume
    FROM grid g LEFT JOIN changes c
      ON c.pair_id = g.pair_id AND c.era = g.era AND c.side = g.side
     AND c.price = g.price AND c.microtimestamp = g.ts
), best AS (
    SELECT pair_id, era, ts,
           max(CASE WHEN side = 'b' AND volume > 0 THEN price END) AS best_bid_price,
           min(CASE WHEN side = 's' AND volume > 0 THEN price END) AS best_ask_price
    FROM vol GROUP BY pair_id, era, ts
), l1 AS (
    SELECT b.pair_id, b.era, b.ts, b.best_bid_price, b.best_ask_price,
           max(CASE WHEN v.side = 'b' AND v.price = b.best_bid_price THEN v.volume END) AS best_bid_qty,
           max(CASE WHEN v.side = 's' AND v.price = b.best_ask_price THEN v.volume END) AS best_ask_qty
    FROM best b JOIN vol v
      ON v.pair_id = b.pair_id AND v.era = b.era AND v.ts = b.ts
    GROUP BY b.pair_id, b.era, b.ts, b.best_bid_price, b.best_ask_price
), l1_lag AS (
    SELECT *,
           lag(best_bid_price) OVER wl1 AS p_bb,
           lag(best_bid_qty)  OVER wl1 AS p_bq,
           lag(best_ask_price) OVER wl1 AS p_ba,
           lag(best_ask_qty)  OVER wl1 AS p_aq
    FROM l1
    WINDOW wl1 AS (PARTITION BY pair_id, era ORDER BY ts)
), l1_dedup AS (
    SELECT pair_id, era, ts, best_bid_price, best_bid_qty, best_ask_price, best_ask_qty
    FROM l1_lag
    WHERE p_bb IS DISTINCT FROM best_bid_price
       OR p_bq IS DISTINCT FROM best_bid_qty
       OR p_ba IS DISTINCT FROM best_ask_price
       OR p_aq IS DISTINCT FROM best_ask_qty
)"""

SPREAD_LINEAR_ORACLE_BODY = f"""
WITH {SPREAD_L1_CTES}
SELECT pair_id, ts AS microtimestamp,
       best_bid_price, best_bid_qty, best_ask_price, best_ask_qty
FROM l1_dedup
"""


# ------------------------------------------------------- D8 get.spread ------

def get_spread(l3, l1, start: str, end: str, frequency_s: int | None = None):
    """D8 ``get.spread`` / ``level1_continuous``: point-in-time starting
    spread at ``start`` (from the book the instant before) ∪ the level1
    stream over (start, end] (reference db/get_schema.sql:645-679,
    db/obanalytics_schema.sql:1606-1618, _spread_from_depth :1064-1112).

    ``frequency_s`` = the reference's grid overload (level1_continuous with
    p_frequency, obanalytics_schema.sql:1606-1618 + _periods_within_eras
    :979-1005): bounds become [_date_floor(start), _date_floor(end)], each
    level1 change collapses onto the closed-right _date_ceiling grid
    (last state within an interval wins, stamped at the right boundary),
    and consecutive equal grid rows are suppressed per (pair, era) —
    exactly what folding the ceiled event cursor (episode.cpp:91-101)
    produces."""
    from obadiah_spark.functions import validate_parameters

    validate_parameters(start, end)  # F6 range guard (get_schema.sql:150-159)
    if frequency_s is not None:
        return _get_spread_freq(l3, l1, start, end, frequency_s)
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    starting = spread_at(l3, start)
    stream = l1.filter(
        (F.col("microtimestamp") > start_c) & (F.col("microtimestamp") <= end_c)
    ).select("pair_id", "microtimestamp", *_SPREAD_COLS)
    return starting.unionByName(stream)


_SPREAD_COLS = ["best_bid_price", "best_bid_qty", "best_ask_price", "best_ask_qty"]


def _level_sums_at(l3, at: str, before: bool, keys=("pair_id",)):
    """Volume ``qty`` per (``keys``, side, price) of the book at ``at`` (the
    instant before with ``before``, else closed at ``at``) — the
    reference's ``_starting_depth`` (get_schema.sql:115-130)."""
    return live_at(l3, at, before=before).groupBy(*keys, "side", "price").agg(
        F.sum("amount").alias("qty"))


def _starting_spread(l3, at: str, before: bool, keys=("pair_id",)):
    """Level1 of the book at ``at`` per ``keys`` (the instant before with
    ``before``, else closed at ``at``), stamped at ``at``: the best price
    per side and that level's volume, one aggregate over the level sums
    (the reference's ``_spread_from_depth`` over ``_starting_depth``,
    db/obanalytics_schema.sql:1064-1112)."""
    lvl = _level_sums_at(l3, at, before, keys)
    bid = F.when(F.col("side") == "b", F.col("price"))
    ask = F.when(F.col("side") == "s", F.col("price"))
    return lvl.groupBy(*keys).agg(
        F.max(bid).alias("best_bid_price"),
        F.max_by("qty", bid).alias("best_bid_qty"),
        F.min(ask).alias("best_ask_price"),
        F.min_by("qty", ask).alias("best_ask_qty"),
    ).select(*keys, F.lit(at).cast("timestamp").alias("microtimestamp"),
             *_SPREAD_COLS)


def _get_spread_freq(l3, l1, start: str, end: str, frequency_s: int):
    """Grid overload body of :func:`get_spread` (see its docstring)."""
    lo = date_floor_s(start, frequency_s)
    hi = date_floor_s(end, frequency_s)
    lo_c = F.lit(lo).cast("timestamp")
    hi_c = F.lit(hi).cast("timestamp")
    # CLOSED at lo: the reference's ceiled event cursor reads events from
    # floor(start) inclusive (episode.cpp:91-101) and an event exactly on
    # the boundary emits at ceil(lo)=lo, so its effect belongs to the lo
    # row; folding it into the seeded starting spread yields the same
    # observable state at every instant >= lo with one row instead of two.
    starting = _starting_spread(l3, lo, before=False, keys=("pair_id", "era"))
    cand = grid_last(
        l1.filter((F.col("microtimestamp") > lo_c) & (F.col("microtimestamp") <= hi_c)),
        frequency_s, _SPREAD_COLS)
    un = starting.unionByName(cand)
    w = W.partitionBy("pair_id", "era").orderBy("microtimestamp")
    changed = F.lit(False)
    for c in _SPREAD_COLS:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    out = (
        un.withColumn("_rn", F.row_number().over(w))
        .withColumn("_chg", changed)
        .filter((F.col("_rn") == 1) | F.col("_chg"))
        .select("pair_id", "microtimestamp", *_SPREAD_COLS)
    )
    return out


def get_spread_freq_oracle_sql(start: str, end: str, frequency_s: int) -> str:
    """DuckDB oracle for the grid overload — independent formulation
    (row_number last-wins + lag dedup over the linear l1 CTE chain)."""
    lo = date_floor_s(start, frequency_s)
    hi = date_floor_s(end, frequency_s)
    ceil = grid_ceil_sql("ts", frequency_s)
    return f"""
WITH {SPREAD_L1_CTES}, live0 AS (
    SELECT l.pair_id, l.era, l.side, l.price, sum(l.amount) AS qty
    FROM level3 l
    WHERE microtimestamp <= TIMESTAMP '{lo}'
      AND era = (SELECT max(era) FROM level3 x
                 WHERE x.pair_id = l.pair_id AND x.era <= TIMESTAMP '{lo}')
      AND (chain_state = 'alive'
           OR (chain_state = 'chained' AND next_microtimestamp > TIMESTAMP '{lo}'))
    GROUP BY l.pair_id, l.era, l.side, l.price
), best0 AS (
    SELECT pair_id, era,
           max(CASE WHEN side = 'b' THEN price END) AS best_bid_price,
           min(CASE WHEN side = 's' THEN price END) AS best_ask_price
    FROM live0 GROUP BY pair_id, era
), starting AS (
    SELECT b.pair_id, b.era, TIMESTAMP '{lo}' AS microtimestamp,
           b.best_bid_price,
           max(CASE WHEN l.side = 'b' AND l.price = b.best_bid_price THEN l.qty END) AS best_bid_qty,
           b.best_ask_price,
           max(CASE WHEN l.side = 's' AND l.price = b.best_ask_price THEN l.qty END) AS best_ask_qty
    FROM best0 b JOIN live0 l ON l.pair_id = b.pair_id AND l.era = b.era
    GROUP BY b.pair_id, b.era, b.best_bid_price, b.best_ask_price
), cand AS (
    SELECT pair_id, era, {ceil} AS microtimestamp,
           best_bid_price, best_bid_qty, best_ask_price, best_ask_qty,
           row_number() OVER (PARTITION BY pair_id, era, {ceil}
                              ORDER BY ts DESC) AS rn
    FROM l1_dedup
    WHERE ts > TIMESTAMP '{lo}' AND ts <= TIMESTAMP '{hi}'
), un AS (
    SELECT pair_id, era, microtimestamp,
           best_bid_price, best_bid_qty, best_ask_price, best_ask_qty
    FROM starting
    UNION ALL
    SELECT pair_id, era, microtimestamp,
           best_bid_price, best_bid_qty, best_ask_price, best_ask_qty
    FROM cand WHERE rn = 1
), lagged AS (
    SELECT *,
           row_number() OVER w AS rn,
           lag(best_bid_price) OVER w AS p_bb,
           lag(best_bid_qty)  OVER w AS p_bq,
           lag(best_ask_price) OVER w AS p_ba,
           lag(best_ask_qty)  OVER w AS p_aq
    FROM un
    WINDOW w AS (PARTITION BY pair_id, era ORDER BY microtimestamp)
)
SELECT pair_id, microtimestamp,
       best_bid_price, best_bid_qty, best_ask_price, best_ask_qty
FROM lagged
WHERE rn = 1
   OR p_bb IS DISTINCT FROM best_bid_price
   OR p_bq IS DISTINCT FROM best_bid_qty
   OR p_ba IS DISTINCT FROM best_ask_price
   OR p_aq IS DISTINCT FROM best_ask_qty
"""


def get_spread_oracle_sql(start: str, end: str) -> str:
    return f"""
WITH {SPREAD_L1_CTES}, live0 AS (
    SELECT l.pair_id, l.side, l.price, sum(l.amount) AS qty
    FROM level3 l
    WHERE microtimestamp < TIMESTAMP '{start}'
      AND era = (SELECT max(era) FROM level3 x
                 WHERE x.pair_id = l.pair_id AND x.era < TIMESTAMP '{start}')
      AND (chain_state = 'alive'
           OR (chain_state = 'chained' AND next_microtimestamp >= TIMESTAMP '{start}'))
    GROUP BY l.pair_id, l.side, l.price
), best0 AS (
    SELECT pair_id,
           max(CASE WHEN side = 'b' THEN price END) AS best_bid_price,
           min(CASE WHEN side = 's' THEN price END) AS best_ask_price
    FROM live0 GROUP BY pair_id
), starting AS (
    SELECT b.pair_id, TIMESTAMP '{start}' AS microtimestamp,
           b.best_bid_price,
           max(CASE WHEN l.side = 'b' AND l.price = b.best_bid_price THEN l.qty END) AS best_bid_qty,
           b.best_ask_price,
           max(CASE WHEN l.side = 's' AND l.price = b.best_ask_price THEN l.qty END) AS best_ask_qty
    FROM best0 b JOIN live0 l ON l.pair_id = b.pair_id
    GROUP BY b.pair_id, b.best_bid_price, b.best_ask_price
)
SELECT pair_id, microtimestamp, best_bid_price, best_bid_qty,
       best_ask_price, best_ask_qty
FROM starting
UNION ALL
SELECT pair_id, ts, best_bid_price, best_bid_qty, best_ask_price, best_ask_qty
FROM l1_dedup
WHERE ts > TIMESTAMP '{start}' AND ts <= TIMESTAMP '{end}'
"""


# ------------------------------------------------------------- D4 get.depth --

def spread_at(l3, at: str, frequency_s: int | None = None):
    """The reference's single-instant ``get.spread(p_start_time, ...)``
    overload (db/get_schema.sql:640-653): the starting spread alone —
    ``_spread_from_depth`` over ``_starting_depth`` at ``at`` (grid-floored
    when ``frequency_s`` is given), no stream. One row per pair."""
    lo = at if frequency_s is None else date_floor_s(at, frequency_s)
    # the single-point overload always reads the book BEFORE the instant
    # (order_book p_before := true via _starting_depth, get_schema.sql:115)
    return _starting_spread(l3, lo, before=True)


def spread_at_oracle_sql(at: str, frequency_s: int | None = None) -> str:
    lo = at if frequency_s is None else date_floor_s(at, frequency_s)
    return f"""
WITH live0 AS (
    SELECT l.pair_id, l.side, l.price, sum(l.amount) AS qty
    FROM level3 l
    WHERE microtimestamp < TIMESTAMP '{lo}'
      AND era = (SELECT max(era) FROM level3 x
                 WHERE x.pair_id = l.pair_id AND x.era < TIMESTAMP '{lo}')
      AND (chain_state = 'alive'
           OR (chain_state = 'chained' AND next_microtimestamp >= TIMESTAMP '{lo}'))
    GROUP BY l.pair_id, l.side, l.price
), best0 AS (
    SELECT pair_id,
           max(CASE WHEN side = 'b' THEN price END) AS best_bid_price,
           min(CASE WHEN side = 's' THEN price END) AS best_ask_price
    FROM live0 GROUP BY pair_id
)
SELECT b.pair_id, TIMESTAMP '{lo}' AS microtimestamp,
       b.best_bid_price,
       max(CASE WHEN l.side = 'b' AND l.price = b.best_bid_price THEN l.qty END) AS best_bid_qty,
       b.best_ask_price,
       max(CASE WHEN l.side = 's' AND l.price = b.best_ask_price THEN l.qty END) AS best_ask_qty
FROM best0 b JOIN live0 l ON l.pair_id = b.pair_id
GROUP BY b.pair_id, b.best_bid_price, b.best_ask_price
"""


def get_depth(l3, start: str, end: str, frequency_s: int | None = None,
              starting_depth: bool = True, depth_changes: bool = True):
    """D4 ``get.depth``: starting full depth (point-in-time, before=start) ∪
    depth changes in [start, end) (right boundary open — the reference's
    no-frequency convention, db/get_schema.sql:263-267); side as bid/ask
    (reference db/get_schema.sql:239-269, get._starting_depth :115-130).

    ``frequency_s`` switches to the reference's frequency-grid convention
    (get_schema.sql:239-269 with p_frequency): the starting depth sits at
    ``_date_floor(start)``, depth changes collapse onto the
    ``_date_ceiling`` grid (one episode per interval, stamped at the CLOSED
    right boundary), and the range keeps grid points in
    (floor(start), ceiling(end)] — the right-boundary interval IS included,
    unlike the raw path. Boundary handling: the reference's episode cursor
    only reads events >= floor(start) (episode.cpp:91-101), so pre-start
    events reach the grid solely through the starting depth; we therefore
    CLOSE the starting depth at floor(start) (ts <= lo) and emit grid
    episodes strictly after it — an event landing exactly on floor(start)
    shows up folded into the starting row instead of as a same-instant
    change row carrying the same post-event volume (one row instead of the
    reference's two; every level volume a client observes at any instant is
    identical). Deliberate deviation shared with the no-frequency
    form: era-bridging depth_change rows between eras are not emitted (each
    era's levels run independently; documented in SURVEY §3.1).

    ``starting_depth`` / ``depth_changes`` mirror the reference's
    ``p_starting_depth`` / ``p_depth_changes`` toggles
    (get_schema.sql:239-244) — the R client's interval cache fetches the
    two halves separately when merging cached ranges."""
    from obadiah_spark.functions import validate_parameters

    validate_parameters(start, end)  # F6 range guard (get_schema.sql:150-159)
    if frequency_s is None:
        lo, hi = start, end
        hi_op = "<"  # right-boundary event goes to the next client period
    else:
        lo, hi = date_floor_s(start, frequency_s), date_ceiling_s(end, frequency_s)
        hi_op = "<="  # closed-right grid: boundary interval included
    start_c = F.lit(lo).cast("timestamp")
    end_c = F.lit(hi).cast("timestamp")
    starting = (
        # frequency path: CLOSED at lo — grid episodes start strictly after
        # floor(start), so a boundary event belongs to the starting row (see
        # docstring); raw path: open (before=True), a change row at exactly
        # `start` can only come from an event at that instant.
        _level_sums_at(l3, lo, before=frequency_s is None)
        .select("pair_id", start_c.alias("microtimestamp"), "side", "price",
                F.col("qty").alias("volume"))
    )
    hi_cond = (F.col("microtimestamp") <= end_c) if hi_op == "<=" \
        else (F.col("microtimestamp") < end_c)
    lo_cond = (F.col("microtimestamp") > start_c) if frequency_s is not None \
        else (F.col("microtimestamp") >= start_c)
    changes = depth_change(l3, frequency_s=frequency_s).filter(
        lo_cond & hi_cond
    ).select("pair_id", "microtimestamp", "side", "price", "volume")
    parts = ([starting] if starting_depth else []) + \
            ([changes] if depth_changes else [])
    if not parts:
        parts = [starting.limit(0)]
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    return (
        un.select(
            "pair_id", "microtimestamp", "price", "volume",
            F.when(F.col("side") == "b", "bid").otherwise("ask").alias("side"),
        )
    )


def get_depth_oracle_sql(start: str, end: str,
                         frequency_s: int | None = None) -> str:
    """Oracle for get_depth; with ``frequency_s`` it regrids the change
    episodes onto the same closed-right _date_ceiling grid (independent
    formulation: regroup + re-window at grid granularity)."""
    if frequency_s is None:
        lo, hi, hi_op, lo_op = start, end, "<", ">="
        started_op, ended_op = "<", ">="   # starting depth open at lo
        regrid = "changes"
    else:
        lo = date_floor_s(start, frequency_s)
        hi = date_ceiling_s(end, frequency_s)
        hi_op, lo_op = "<=", ">"
        started_op, ended_op = "<=", ">"   # starting depth CLOSED at lo
        regrid = "gridded"
    grid_cte = "" if frequency_s is None else f""", gridded AS (
    SELECT pair_id, era, {grid_ceil_sql('microtimestamp', frequency_s)} AS microtimestamp,
           side, price, sum(volume_change) AS volume_change
    FROM changes
    GROUP BY 1, 2, 3, 4, 5
    HAVING sum(volume_change) <> 0
)"""
    return f"""
WITH {DEPTH_CHANGES_CTES}{grid_cte}, changes2 AS (
    SELECT pair_id, era, microtimestamp, side, price,
           sum(volume_change) OVER (
               PARTITION BY pair_id, era, side, price ORDER BY microtimestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS volume
    FROM {regrid}
), starting AS (
    SELECT l.pair_id, TIMESTAMP '{lo}' AS microtimestamp, l.side, l.price,
           sum(l.amount) AS volume
    FROM level3 l
    WHERE microtimestamp {started_op} TIMESTAMP '{lo}'
      AND era = (SELECT max(era) FROM level3 x
                 WHERE x.pair_id = l.pair_id AND x.era {started_op} TIMESTAMP '{lo}')
      AND (chain_state = 'alive'
           OR (chain_state = 'chained' AND next_microtimestamp {ended_op} TIMESTAMP '{lo}'))
    GROUP BY l.pair_id, l.side, l.price
)
SELECT pair_id, microtimestamp, price, volume,
       CASE side WHEN 'b' THEN 'bid' ELSE 'ask' END AS side
FROM (
    SELECT pair_id, microtimestamp, side, price, volume FROM starting
    UNION ALL
    SELECT pair_id, microtimestamp, side, price, volume FROM changes2
    WHERE microtimestamp {lo_op} TIMESTAMP '{lo}' AND microtimestamp {hi_op} TIMESTAMP '{hi}'
) d
"""


# -------------------------------------------------------- D5 depth_summary --

_DEPTH_SUMMARY_SCHEMA = ("pair_id int, microtimestamp timestamp, side string, "
                         "price double, volume double, bps_level bigint")


def _depth_summary_folder(bps_step: int, max_bps_level: int, r0: int):
    """D5's bucket folder: a level's key is its bps distance from its own
    side's best, ceil(((price−best)/best)/step*10⁴)*step, and the price
    re-projected to that bucket boundary rounded to the pair tick (R0) as
    floor(x*10^r0+0.5)/10^r0 — the SQL oracle's op sequence."""
    scale = 10 ** r0

    class _DepthSummaryFolder(BucketFolder):
        OUT_COLS = ("pair_id", "microtimestamp", "side", "price",
                    "volume", "bps_level")
        OWN_BEST_ANCHORS = True

        @staticmethod
        def key(side: str, price: float, best_bid, best_ask):
            if side == "s":
                if best_ask is None:
                    return None
                lvl = math.ceil((price - best_ask) / best_ask / bps_step
                                * 10000) * bps_step
                adj = math.floor(best_ask * (1 + lvl / 10000) * scale
                                 + 0.5) / scale
            else:
                if best_bid is None:
                    return None
                lvl = math.ceil((best_bid - price) / best_bid / bps_step
                                * 10000) * bps_step
                adj = math.floor(best_bid * (1 - lvl / 10000) * scale
                                 + 0.5) / scale
            if lvl > max_bps_level:
                return None
            return (side, adj, lvl)

        def emit(self, ts, buckets) -> None:
            out = self.out
            for (side, adj, lvl), vol in buckets:
                out["pair_id"].append(self.pair_id)
                out["microtimestamp"].append(ts)
                out["side"].append("ask" if side == "s" else "bid")
                out["price"].append(adj)
                out["volume"].append(vol)
                out["bps_level"].append(lvl)

    return _DepthSummaryFolder


def depth_summary_at(l3, at: str, bps_step: int = 25,
                     max_bps_level: int = 500, r0: int = 2):
    """Single-instant full bucketed depth — D5's folder over the book state
    AT ``at`` (closed, events at the instant included), via
    :func:`obadiah_spark.fold.fold_at`. Supplies the starting row of the
    range overload (the reference's ``level2_continuous(p_start_time,
    ...)`` emits starting depth at the range start,
    db/get_schema.sql:115-130, which ``depth_summary_agg`` buckets like any
    other episode)."""
    return fold_at(l3, _depth_summary_folder(bps_step, max_bps_level, r0),
                   _DEPTH_SUMMARY_SCHEMA, at)


def depth_summary_fold(l3, bps_step: int = 25, max_bps_level: int = 500, r0: int = 2,
                       period_s: int | None = 86400,
                       frequency_s: int | None = None,
                       start: str | None = None, end: str | None = None):
    """D5 ``get.depth_summary``: per change-episode, the FULL depth bucketed
    by bps distance from the best price (reference db/get_schema.sql:278-298;
    bucketing db/obanalytics_schema.sql:662-712): bps_level =
    ceil(((price−best)/best)/step*10⁴)*step, price re-projected to the bucket
    boundary rounded to the pair tick (R0), volumes summed per bucket.

    Runs in the book fold (depth state is O(levels)); the oracle re-derives
    the same from the episode×level grid. Rounding is floor(x*100+0.5)/100 on
    BOTH engines (python and SQL share the op sequence bit-for-bit).

    ``period_s`` splits eras into seeded periods (fold.period_fold) so
    parallelism is #periods; every output row belongs to one episode and
    the only cross-episode state is the book + emitted map (both seeded),
    so the split output is identical (pytest-enforced).

    ``frequency_s`` is the reference's ``p_frequency`` output grid
    (db/get_schema.sql:278): the event log is resampled onto the
    closed-right ceiling grid (:func:`grid_sample_l3`) so the summary
    emits at most once per grid interval, with the true full-depth
    buckets at each grid point.

    ``start``/``end`` (both or neither) are the reference's
    p_start_time/p_end_time: a full bucketed snapshot AT ``start``
    (:func:`depth_summary_at` — the level2_continuous starting-depth
    episode, from the same folder class) plus change episodes in ``(start,
    end]``, computed by PRUNED period folding (only the periods
    intersecting the range shuffle — O(range), not O(history)). Boundary
    convention matches the engine's freq path: the starting row is CLOSED
    at start, change episodes strictly after — one row per instant, same
    observable state as the reference's starting+change pair. With
    ``frequency_s`` too, the log is grid-sampled first, then the range
    applies to the sampled log."""
    if frequency_s is not None:
        l3 = grid_sample_l3(l3, frequency_s)
    folded = period_fold(l3, _depth_summary_folder(bps_step, max_bps_level, r0),
                         _DEPTH_SUMMARY_SCHEMA, period_s, start, end)
    if start is None:
        return folded
    starting = depth_summary_at(l3, start, bps_step, max_bps_level, r0)
    return starting.unionByName(folded)


def depth_summary_oracle_sql(bps_step: int = 25, max_bps_level: int = 500,
                             start: str | None = None,
                             end: str | None = None) -> str:
    """Grid-based oracle: per change-episode level volumes (vol CTE) + best
    prices (best CTE) → same bucketing arithmetic, op for op.

    With ``start``/``end``: an INDEPENDENT formulation of the range
    overload — the full-log episode fabric filtered to ``(start, end]``
    plus the last in-era episode at/before ``start`` re-stamped to it
    (nothing changed in between, so the re-stamped full-bucket row IS the
    state at start) — while the engine derives the starting row from a
    point-in-time live set and folds only pruned periods."""
    fabric = f"""{SPREAD_L1_CTES}, lvl AS (
    SELECT v.pair_id, v.era, v.ts, v.side, v.price, v.volume,
           CASE v.side
             WHEN 's' THEN ceil((v.price - b.best_ask_price) / b.best_ask_price / {bps_step} * 10000) * {bps_step}
             ELSE ceil((b.best_bid_price - v.price) / b.best_bid_price / {bps_step} * 10000) * {bps_step}
           END AS bps_level,
           b.best_bid_price, b.best_ask_price
    FROM vol v JOIN best b
      ON b.pair_id = v.pair_id AND b.era = v.era AND b.ts = v.ts
    WHERE v.volume > 0
      AND ((v.side = 's' AND b.best_ask_price IS NOT NULL)
        OR (v.side = 'b' AND b.best_bid_price IS NOT NULL))
), adj AS (
    SELECT pair_id, era, ts, side,
           CASE side
             WHEN 's' THEN floor(best_ask_price * (1 + bps_level / 10000) * 100 + 0.5) / 100
             ELSE floor(best_bid_price * (1 - bps_level / 10000) * 100 + 0.5) / 100
           END AS price,
           volume, bps_level
    FROM lvl WHERE bps_level <= {max_bps_level}
), fin AS (
    SELECT pair_id, era, ts,
           CASE side WHEN 's' THEN 'ask' ELSE 'bid' END AS side,
           price, sum(volume) AS volume, CAST(bps_level AS BIGINT) AS bps_level
    FROM adj
    GROUP BY pair_id, era, ts, side, price, bps_level
)"""
    if start is None:
        return f"""
WITH {fabric}
SELECT pair_id, ts AS microtimestamp, side, price, volume, bps_level
FROM fin
"""
    return f"""
WITH {fabric}
SELECT pair_id, ts AS microtimestamp, side, price, volume, bps_level
FROM fin
WHERE ts > TIMESTAMP '{start}' AND ts <= TIMESTAMP '{end}'
UNION ALL
SELECT f.pair_id, TIMESTAMP '{start}' AS microtimestamp,
       f.side, f.price, f.volume, f.bps_level
FROM fin f
WHERE f.era = (SELECT max(era) FROM level3 x
               WHERE x.pair_id = f.pair_id AND x.era <= TIMESTAMP '{start}')
  AND f.ts = (SELECT max(g.ts) FROM fin g
              WHERE g.pair_id = f.pair_id AND g.era = f.era
                AND g.ts <= TIMESTAMP '{start}')
"""
