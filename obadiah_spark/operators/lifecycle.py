"""Incremental / scheduled matching lifecycle (SURVEY §3.4).

Reference parity — the reference re-runs trade matching every few minutes
over a bounded chunk with a delay guard, resuming from its own link state:

- ``bitfinex.pga_match`` (reference db/bitfinex_schema.sql:748-846): frame
  = [last linked match, newest match − p_delay('2 min')], capped at
  p_max_interval('2 h'); first run (no links yet) starts at the oldest
  match and covers at most one max_interval. Inside the frame it runs
  ``match_price_and_fill_exact`` then ``match_price_and_sum_of_fill_exact``
  (I5 then I6 on the residual).
- ``bitstamp.pga_match`` (reference db/bitstamp_schema.sql:1780-1872):
  same resume-from-last-link shape (v_start = max linked microtimestamp)
  driving I9/I10.

This module reproduces the QUERY content of that scheduler loop, not its
cadence: a backlog (or a restart) is matched in ONE step over the whole
frame, (last linked trade or oldest trade − 1 µs, newest trade − delay].
The reference's p_max_interval cap only bounds how much one cron run
does; the tiling proof below shows it never changes the links, so the
cap, the cron cadence, the advisory locks and the pgagent jobs are all
orchestration, out of scope per SURVEY §2.6. The reference's in-place
UPDATEs become recompute-and-return link frames (the repo-wide
convention).

Chunked ≡ one-shot, exactly
---------------------------
The I5 link rule is a pure local property: (trade T, event E) is a link
iff E is T's argmin candidate event (events in [T, T+max_delay]) AND T is
E's argmin candidate trade (trades in [E−max_delay, E]) — the dual
row_number filter has no cascading (a loser is dropped, never re-ranked).
So a chunk that evaluates I5 over trades in [lo − slack, hi + slack] with
slack >= max_delay and keeps only links with trade_microtimestamp in
(lo, hi] reproduces the one-shot result restricted to (lo, hi] exactly,
and chunks tile without overlap or loss.

I6 adds run structure (sets = maximal adjacent same-(price, origination)
trade runs) and group contests (one group per event, earliest group_ts;
no-reuse minimality among groups sharing a member — both confined to a
single run ± max_delay). A chunk that evaluates I6 over trades in
[lo − L, hi + L] and keeps whole GROUPS by their group_ts (the last
member's timestamp) in (lo, hi] therefore tiles exactly too, PROVIDED
L >= (longest trade run duration + max_delay) — the exactness
precondition, asserted against the fabric in tests/test_lifecycle.py.
Groups are kept atomically (all member links or none), matching the
reference's per-group UPDATE.

Later trades never steal an I5 contest from earlier ones (the contest
orders by trade_microtimestamp ascending), so the delay-tail trades —
visible to the last chunk's extended window but past its keep bound —
cannot perturb kept links; the one-shot oracle may equivalently filter
trades to <= (newest − delay) for I5 while leaving the I6 run fabric
unfiltered and bounding groups by group_ts (see
``incremental_match_oracle_sql``).

State = the link frame itself (resume is max linked trade ts), so a
restart resumes and a replay is idempotent (re-running over already-linked
ground produces the same links, merged by key). Resume relies on the
tiling above: the step over (cursor, horizon] is the one-shot result
restricted to that frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from obadiah_spark.operators.matching import (
    match_fill_exact_oracle_sql,
    match_price_and_fill_exact,
    match_sequential_body_sql,
    match_sequential_grid,
    match_sequential_pairs_sql,
    match_sum_of_fills,
    match_sum_of_fills_oracle_sql,
)

# reference default p_delay '00:02:00' (db/bitfinex_schema.sql:748)
DELAY_US = 120_000_000

_LINK_COLS = ["pair_id", "exchange_trade_id", "trade_microtimestamp",
              "event_microtimestamp", "order_id", "event_no", "side",
              "price", "fill"]


def _between_us(col: str, lo_us: int, hi_us: int):
    c = F.unix_micros(col)
    return (c > F.lit(lo_us)) & (c <= F.lit(hi_us))


def incremental_match_step(l3: DataFrame, trades: DataFrame,
                           lo_us: int, hi_us: int,
                           max_delay_s: int = 1,
                           lookback_s: int = 60) -> DataFrame:
    """Links owned by the chunk ``(lo_us, hi_us]``: I5 links keyed by trade
    timestamp, then I6 (on the I5 residual) keyed by group timestamp,
    both evaluated over the lookback-extended window so the result is
    exactly the one-shot restriction (module docstring). Pure function of
    its inputs — replaying a chunk is idempotent."""
    d_us = max_delay_s * 1_000_000
    l_us = lookback_s * 1_000_000
    ext_lo, ext_hi = lo_us - l_us - d_us, hi_us + l_us + d_us
    # materialize both chunk windows once: I5 and I6 each reference the
    # event/trade windows in several subtrees (joins + windows), and
    # without the cut every subtree re-scans the full l3/trades and
    # re-applies the filter — ~6 full-input scan waves per chunk of
    # pure overhead (guide §2.4: share one materialization instead of
    # re-deriving). The cuts still pay on one whole-horizon step: 3.6 s
    # with them, 5.6-5.9 s without (sf0.1, 4 cores, warm); lazy, not
    # eager, per the A/B in OPTIMIZATION_r16.md.
    t_ext = trades.filter(_between_us("trade_microtimestamp",
                                      ext_lo - 1, ext_hi)
                          ).localCheckpoint(eager=False)
    # events matter within [trade, trade + max_delay] of an extended trade
    l3_ext = l3.filter(_between_us("microtimestamp", ext_lo - 1,
                                   ext_hi + d_us)).localCheckpoint(eager=False)
    # i5_all feeds both the keep-filter and the residual anti-join — cut
    # lineage so the I5 joins and dedup windows evaluate once, not twice
    i5_all = match_price_and_fill_exact(
        l3_ext, t_ext, max_delay_s).localCheckpoint(eager=False)
    i5_keep = i5_all.filter(_between_us("trade_microtimestamp", lo_us, hi_us))

    residual = t_ext.join(
        i5_all.select("pair_id", "exchange_trade_id").distinct(),
        ["pair_id", "exchange_trade_id"], "left_anti")
    i6_all = match_sum_of_fills(l3_ext, residual, max_delay_s)
    # groups are atomic: owned by the LAST member's timestamp (group_ts);
    # one event link == one group, so the window max reconstructs it
    w_grp = W.partitionBy("pair_id", "order_id", "event_no",
                          "event_microtimestamp")
    i6_keep = (
        i6_all.withColumn("_gts", F.max("trade_microtimestamp").over(w_grp))
        .filter(_between_us("_gts", lo_us, hi_us))
    )
    return (
        i5_keep.select(*_LINK_COLS)
        .withColumn("matcher", F.lit("fill_exact"))
        .unionByName(
            i6_keep.select(
                "pair_id", "exchange_trade_id", "trade_microtimestamp",
                "event_microtimestamp", "order_id", "event_no", "side",
                "price", F.col("amount").alias("fill"))
            .withColumn("matcher", F.lit("sum_of_fills")))
    )


def incremental_match(l3: DataFrame, trades: DataFrame,
                      existing_links: DataFrame | None = None,
                      delay_us: int = DELAY_US,
                      max_delay_s: int = 1, lookback_s: int = 60) -> DataFrame:
    """The whole ``pga_match`` lifecycle up to the current horizon, as one
    lazy :func:`incremental_match_step` over (last linked trade, or oldest
    trade − 1 µs, newest trade − ``delay_us``].

    Returns the NEW links only (recompute-and-return, like the matchers);
    pass the previous result as ``existing_links`` to resume after a
    restart — the frame starts at the last linked trade, and a full
    replay over already-linked ground yields zero rows
    (tests/test_lifecycle.py). The frame decision is two scalar
    aggregates (trade bounds, resume cursor), driver-side by design; an
    empty frame returns the step's empty frame."""
    b = trades.agg(
        F.min(F.unix_micros("trade_microtimestamp")).alias("mn"),
        F.max(F.unix_micros("trade_microtimestamp")).alias("mx"),
    ).collect()[0]
    cursor: int | None = None
    if existing_links is not None:
        cursor = existing_links.agg(
            F.max(F.unix_micros("trade_microtimestamp"))).collect()[0][0]
    lo = hi = 0
    if b.mn is not None:
        lo = cursor if cursor is not None else b.mn - 1
        hi = b.mx - delay_us
    if hi <= lo:  # nothing to match: the step's empty frame, same schema
        trades, lo, hi = trades.limit(0), 0, 0
    return incremental_match_step(l3, trades, lo, hi, max_delay_s, lookback_s)


def incremental_match_oracle_sql(delay_us: int = DELAY_US,
                                 max_delay_s: int = 1,
                                 trades_cte: str = "it_trades") -> str:
    """One-shot equivalent of the full :func:`incremental_match` run (the
    chunking is provably invisible — module docstring): I5 over all
    trades kept to <= newest − delay, then I6 over the I5 residual with
    groups bounded by group_ts <= the same horizon. Expects a CTE named
    ``trades_cte`` with the matcher trade schema; each matcher oracle is
    embedded whole as a nested-WITH CTE body (outer CTEs are lexically
    visible inside, so ``it_residual``/``level3`` resolve)."""
    i5 = match_fill_exact_oracle_sql(max_delay_s)
    old_trades = """trades AS (
    SELECT pair_id, era, microtimestamp AS trade_microtimestamp, price,
           amount AS fill, side AS origination, exchange_trade_id
    FROM matches
)"""
    assert old_trades in i5, "i5 oracle trades CTE drifted; update splice"
    i5 = i5.replace(old_trades, f"trades AS (SELECT * FROM {trades_cte})")
    i6 = match_sum_of_fills_oracle_sql(max_delay_s, trades_cte="it_residual")
    return f"""
WITH horizon AS (
    SELECT max(trade_microtimestamp)
           - INTERVAL '{delay_us} microseconds' AS hi
    FROM {trades_cte}
), i5_links AS MATERIALIZED (
{i5}
), it_residual AS (
    SELECT t.* FROM {trades_cte} t
    WHERE NOT EXISTS (
        SELECT 1 FROM i5_links l
        WHERE l.pair_id = t.pair_id
          AND l.exchange_trade_id = t.exchange_trade_id)
), i6_links AS (
{i6}
), i6_grouped AS (
    SELECT *, max(trade_microtimestamp) OVER (
        PARTITION BY pair_id, order_id, event_no, event_microtimestamp
    ) AS _gts
    FROM i6_links
)
SELECT pair_id, exchange_trade_id, trade_microtimestamp,
       event_microtimestamp, order_id, event_no, side, price, fill,
       'fill_exact' AS matcher
FROM i5_links
WHERE trade_microtimestamp <= (SELECT hi FROM horizon)
UNION ALL
SELECT pair_id, exchange_trade_id, trade_microtimestamp,
       event_microtimestamp, order_id, event_no, side, price,
       amount AS fill, 'sum_of_fills' AS matcher
FROM i6_grouped
WHERE _gts <= (SELECT hi FROM horizon)
"""


# reference bitstamp.pga_match sweep grid (db/bitstamp_schema.sql:1849-1857):
# tolerance OUTER loop over these percentages, offset INNER loop 1..MAX_OFFSET
SWEEP_TOLERANCES = (0.0001, 0.001, 0.01, 0.1, 1.0)
SWEEP_MAX_OFFSET = 4


def claimed_events(matches: DataFrame) -> DataFrame:
    """(pair_id, era, microtimestamp, order_id, event_no) of every event a
    match claims — the recompute-and-return stand-in for the reference's
    live_orders trade_id backfill (an event linked to a trade may not link
    again). The key includes microtimestamp — the full level3 identity —
    because (order_id, event_no) repeats across reincarnation lives; a
    claim on one life must not block the other."""
    return (
        matches.select(
            "pair_id", "era",
            F.col("buy_microtimestamp").alias("microtimestamp"),
            F.col("buy_order_id").alias("order_id"),
            F.col("buy_event_no").alias("event_no"))
        .unionByName(matches.select(
            "pair_id", "era",
            F.col("sell_microtimestamp").alias("microtimestamp"),
            F.col("sell_order_id").alias("order_id"),
            F.col("sell_event_no").alias("event_no")))
    )


def bitstamp_match_sweep(l3: DataFrame, trades: DataFrame,
                         tolerances: tuple[float, ...] = SWEEP_TOLERANCES,
                         max_offset: int = SWEEP_MAX_OFFSET,
                         claimed: DataFrame | None = None) -> DataFrame:
    """The ``bitstamp.pga_match`` sequential-matching sweep (reference
    db/bitstamp_schema.sql:1780-1861): for each tolerance percentage (outer)
    and event offset 1..max_offset (inner), run
    ``match_trades_to_sequential_events`` (I10, :func:`match_sequential`)
    over the still-unmatched trades, excluding events claimed by earlier
    cells — the reference threads this state through live_trades UPDATEs
    (matched trades leave ``unmatched_trades``) and the live_orders trade_id
    backfill (claimed events fail ``trade_id is null``).

    Returns one row per matched trade: the I10 link columns plus
    (tolerance, sweep_offset) provenance — which grid cell matched it.
    A trade matches in at most one cell; an event is claimed by at most one
    trade across the whole sweep. The claimed-event exclusion is applied
    AFTER the lead window (claimed events still occupy positions in the
    event stream), exactly the reference's filter placement.

    ``claimed`` seeds the exclusion set with events matched by PREVIOUS
    runs — the resume path: the reference re-runs the sweep every few
    minutes over [last matched event, era end]; a caller replays that by
    filtering ``l3``/``trades`` to the window (plain filters — the repo
    convention) and passing the prior links' :func:`claimed_events`.
    Re-running over already-matched ground is then a no-op
    (tests/test_lifecycle.py idempotency test).

    The reference's full pga_match also UPSERTS ``inferred_trades`` (I9)
    first; that phase is the separately-gated :func:`inferred_trades` — a
    deployment composes I9 → promote → this sweep, the same composition the
    gate's closed loop performs. Orchestration (pgagent cadence, advisory
    locks) is out of scope per SURVEY §2.6.

    Scale: the whole grid is one :func:`match_sequential_grid` plan — one
    lead-window select for every offset, one candidate join, and one
    grouped kernel that threads the matched/claimed state from cell to
    cell per pair. Lazy: no job runs until the result is consumed.
    """
    if not tolerances or max_offset < 1:
        raise ValueError("sweep grid is empty")
    return match_sequential_grid(
        l3, trades,
        [(t, k) for t in tolerances for k in range(1, max_offset + 1)],
        claimed)


def bitstamp_match_sweep_oracle_sql(
        tolerances: tuple[float, ...] = SWEEP_TOLERANCES,
        max_offset: int = SWEEP_MAX_OFFSET,
        trades_cte: str = "sweep_trades") -> str:
    """One-statement DuckDB mirror of :func:`bitstamp_match_sweep`: the grid
    unrolls into chained CTEs — ``sweep_pairs_o{k}`` materialized once per
    offset, then per cell i: ``m_i`` (one
    :func:`match_sequential_body_sql` over the not-yet-matched trades
    ``u_i`` with claimed-event exclusion ``c_i``), running union ``acc_i``,
    and the next cell's state ``u_{i+1}``/``c_{i+1}`` derived from it."""
    ctes = [f"sweep_pairs_o{k} AS MATERIALIZED (\n"
            f"{match_sequential_pairs_sql(k)}\n)"
            for k in range(1, max_offset + 1)]
    ctes.append(f"u_0 AS (SELECT * FROM {trades_cte})")
    ctes.append("""c_0 AS (
    SELECT CAST(NULL AS INTEGER) AS pair_id, CAST(NULL AS TIMESTAMP) AS era,
           CAST(NULL AS TIMESTAMP) AS microtimestamp,
           CAST(NULL AS BIGINT) AS order_id, CAST(NULL AS INTEGER) AS event_no
    WHERE FALSE)""")
    finals = []
    i = 0
    for tol in tolerances:
        for off in range(1, max_offset + 1):
            body = match_sequential_body_sql(
                tol, f"u_{i}", f"sweep_pairs_o{off}", f"c_{i}")
            ctes.append(f"m_{i} AS MATERIALIZED (\n{body}\n)")
            if i == 0:
                ctes.append("acc_0 AS (SELECT * FROM m_0)")
            else:
                ctes.append(f"acc_{i} AS (SELECT * FROM acc_{i - 1} "
                            f"UNION ALL SELECT * FROM m_{i})")
            ctes.append(f"""u_{i + 1} AS (
    SELECT t.* FROM {trades_cte} t
    WHERE NOT EXISTS (SELECT 1 FROM acc_{i} a
        WHERE a.pair_id = t.pair_id
          AND a.exchange_trade_id = t.exchange_trade_id))""")
            ctes.append(f"""c_{i + 1} AS (
    SELECT pair_id, era, buy_microtimestamp AS microtimestamp,
           buy_order_id AS order_id, buy_event_no AS event_no
    FROM acc_{i}
    UNION ALL
    SELECT pair_id, era, sell_microtimestamp, sell_order_id, sell_event_no
    FROM acc_{i})""")
            finals.append(f"SELECT *, CAST({tol} AS DOUBLE) AS tolerance, "
                          f"{off} AS sweep_offset FROM m_{i}")
            i += 1
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)
