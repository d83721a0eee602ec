"""Episode-merge + crossed-book repair (SURVEY §2.7 Q2/Q3).

Reference parity:
- Q3 ``obanalytics.merge_episodes(p_start, p_end, ...)`` — move every event
  in [start, end) to a single microtimestamp, respecting per-order
  death/resurrection: an order that dies inside the window and is later seen
  again keeps its death instant as the merge target; everything else moves
  to ``end``; forward pointers inside the window move with them (reference
  db/obanalytics_schema.sql:1959-2029).
- Q2 ``merge_crossed_books`` (:1921-1943) — merge every crossed period's
  episodes into its next uncrossed episode — and ``fix_crossed_books``
  (:1276-1420), the iterative driver that also deletes "eternal" taker /
  crossed orders the exchange failed to remove.

The reference is an in-place UPDATE loop over one crossed instant at a
time; ``merge_crossed_books`` here is ONE declarative pass that repairs ALL
crossed periods simultaneously (the periods are disjoint by construction,
so the per-period rewrites are independent — the batch form reaches the
reference's fixpoint for merge-resolvable periods in one pass instead of N).
``fix_crossed_books`` keeps the reference's outer loop (bounded driver-side
iterations, each a distributed transform) for the rare eternal-order cases
that re-detection must confirm.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from obadiah_spark.fold import group_starts


def merge_episodes(l3: DataFrame, start: str, end: str) -> DataFrame:
    """Q3: window rows with microtimestamp / next_* rewritten to the merge
    target; columns unchanged otherwise."""
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    win = l3.filter((F.col("microtimestamp") >= start_c) & (F.col("microtimestamp") < end_c))
    w_fwd = (
        W.partitionBy("pair_id", "exchange_id", "era", "order_id")
        .orderBy("microtimestamp")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    w_all = W.partitionBy("pair_id", "exchange_id", "era", "order_id")
    next_death = F.min(
        F.when(F.col("chain_state") == "deleted", F.col("microtimestamp"))
    ).over(w_fwd)
    last_seen = F.max("microtimestamp").over(w_all)
    resurrected = (next_death < end_c) & (next_death < last_seen)
    new_ts = F.when(resurrected, next_death).otherwise(end_c)
    new_next = (
        F.when(
            F.col("next_microtimestamp").isNotNull()
            & (F.col("next_microtimestamp") <= next_death) & resurrected,
            next_death,
        )
        .when(
            F.col("next_microtimestamp").isNotNull()
            & (F.col("next_microtimestamp") < end_c),
            end_c,
        )
        .otherwise(F.col("next_microtimestamp"))
    )
    return win.select(
        new_ts.alias("microtimestamp"),
        "order_id", "event_no", "side", "price", "amount", "fill",
        new_next.alias("next_microtimestamp"),
        "next_event_no", "pair_id", "exchange_id", "local_timestamp",
        "price_microtimestamp", "price_event_no", "chain_state", "era",
        "life_no",
    )


_L3_COLS = [
    "microtimestamp", "order_id", "event_no", "side", "price", "amount",
    "fill", "next_microtimestamp", "next_event_no", "pair_id", "exchange_id",
    "local_timestamp", "price_microtimestamp", "price_event_no",
    "chain_state", "era", "life_no",
]


def merge_crossed_books(l3: DataFrame, l1: DataFrame | None = None,
                        periods: DataFrame | None = None) -> DataFrame:
    """Q2 (merge path): rewrite the FULL level3 so every crossed period's
    events are merged into its next uncrossed episode.

    For each crossed period [first_crossed, next_uncrossed) (from
    :func:`~obadiah_spark.operators.quality.crossed_books` over the level1
    stream), events inside the window move to ``next_uncrossed`` — except an
    order that dies inside the window and resurrects later in it keeps its
    death instant (merge_episodes semantics, applied per period). EVERY
    next-pointer that targets a moved event (from inside or outside the
    window) follows it to its new microtimestamp via one mapping join.

    Scale: the periods table is tiny (crossed books are rare — the
    reference's own stated assumption) → broadcast range join; the rewrite
    windows partition on (pair, era, period, order) inside affected slices
    only.
    """
    from obadiah_spark.operators.quality import crossed_books

    if periods is None:
        if l1 is None:
            from obadiah_spark.fold import spread_fold

            l1 = spread_fold(l3)
        periods = crossed_books(l1)
    p = periods.filter(F.col("next_uncrossed").isNotNull()).select(
        F.col("pair_id").alias("p_pair"), F.col("era").alias("p_era"),
        "first_crossed", "next_uncrossed",
    )
    tagged = l3.join(
        F.broadcast(p),
        (F.col("pair_id") == F.col("p_pair")) & (F.col("era") == F.col("p_era"))
        & (F.col("microtimestamp") >= F.col("first_crossed"))
        & (F.col("microtimestamp") < F.col("next_uncrossed")),
        "left",
    ).drop("p_pair", "p_era")
    in_win = F.col("first_crossed").isNotNull()
    w_ord = (
        W.partitionBy("pair_id", "exchange_id", "era", "first_crossed", "order_id")
        .orderBy("microtimestamp", "event_no")
    )
    next_death = F.min(
        F.when(in_win & (F.col("chain_state") == "deleted"), F.col("microtimestamp"))
    ).over(w_ord.rowsBetween(W.currentRow, W.unboundedFollowing))
    last_seen = F.max(
        F.when(in_win, F.col("microtimestamp"))
    ).over(w_ord.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    resurrected = (next_death < F.col("next_uncrossed")) & (next_death < last_seen)
    new_ts = F.when(
        in_win,
        F.when(resurrected, next_death).otherwise(F.col("next_uncrossed")),
    ).otherwise(F.col("microtimestamp"))
    ann = tagged.withColumn("_new_ts", new_ts)
    # pointer mapping: old target ts -> new target ts, for moved events only
    mapping = ann.filter(in_win & (F.col("_new_ts") != F.col("microtimestamp"))).select(
        F.col("pair_id").alias("m_pair"), F.col("era").alias("m_era"),
        F.col("order_id").alias("m_oid"),
        F.col("microtimestamp").alias("m_old"), F.col("_new_ts").alias("m_new"),
    ).distinct()
    out = ann.join(
        F.broadcast(mapping),
        (F.col("pair_id") == F.col("m_pair")) & (F.col("era") == F.col("m_era"))
        & (F.col("order_id") == F.col("m_oid"))
        & (F.col("next_microtimestamp") == F.col("m_old")),
        "left",
    )
    return out.select(
        F.col("_new_ts").alias("microtimestamp"),
        # pre-rewrite instant: lets audit_microtimestamp_moves (I13/I14)
        # compare before/after without re-joining on chain identity
        F.col("microtimestamp").alias("_old_ts"),
        "order_id", "event_no", "side", "price", "amount", "fill",
        F.coalesce(F.col("m_new"), F.col("next_microtimestamp")).alias("next_microtimestamp"),
        "next_event_no", "pair_id", "exchange_id", "local_timestamp",
        "price_microtimestamp", "price_event_no", "chain_state", "era", "life_no",
    )


def fix_crossed_books(l3: DataFrame, max_iter: int = 3) -> DataFrame:
    """Q2: iterate merge_crossed_books to the uncrossed fixpoint; a period
    with NO next uncrossed episode (crossed through era end) is repaired by
    deleting its never-dying crossed orders — at the first crossed instant
    (the reference's "eternal takers"/"eternal crossed orders" fixes,
    db/obanalytics_schema.sql:1330-1404) AND at the era's last episode,
    which restores the reference inner loop's ability to advance
    ``v_crossed`` past a crossing whose first-instant participants all die
    later while the book stays crossed to era end.

    THE PASS BOUND IS 3, proven (VERDICT r6 task #5; each pass is one full
    distributed transform, never a per-period loop):

    1. A merge never creates a crossing: the order-book state is a function
       of the latest event per order, so collapsing a window's events onto
       ``next_uncrossed`` leaves every book from that instant on unchanged;
       inside the window only resurrect-deaths remain, and REMOVING orders
       from the (uncrossed-by-definition) pre-``first_crossed`` book cannot
       cross it. Synthesized deletes likewise only remove orders. So the
       set of crossed episodes never grows across passes.
    2. Pass 1 merges away every period that has a next uncrossed episode,
       and for every eternal period deletes all crossing orders alive at
       the era's last episode — where "alive" necessarily means
       alive-forever (an event after the last episode is a contradiction),
       so the delete set is non-empty and removing every ``is_crossed`` /
       non-maker participant uncrosses the era end.
    3. Pass 2 therefore sees at most interior crossings of formerly-eternal
       eras — now WITH a next uncrossed episode (the repaired era end) —
       and merges them all; by (1) it creates none and no eternal periods
       can reappear. Pass 3 observes the fixpoint and returns.

    Exhausting ``max_iter`` without convergence is therefore a bug, and
    raises rather than returning silently-crossed data."""
    from obadiah_spark.fold import spread_fold
    from obadiah_spark.operators.order_book import snapshot_multi
    from obadiah_spark.operators.quality import crossed_books

    from obadiah_spark.log import get_logger

    log = get_logger("repair.fix_crossed_books")
    cur = l3
    for i in range(max_iter):
        cb = crossed_books(spread_fold(cur)).cache()
        rows = cb.limit(1).count()
        if rows == 0:
            log.debug("pass %d: no crossed periods remain", i)
            cb.unpersist()
            return cur
        log.debug("pass %d: crossed periods detected, merging", i)
        # materialize + cut lineage each round: the repair is iterative and
        # the plan would otherwise compound (fold → merge → fold → ...)
        # drop the audit-only _old_ts so the function's output keeps the
        # canonical 17-column level3 shape on every exit path
        cur = merge_crossed_books(cur, periods=cb).drop("_old_ts").localCheckpoint()
        # eternal periods keep their MARKET identity: the synthesized
        # deletes below must hit only the (pair, era) whose crossed period
        # runs through era end — snapshot_multi probes every market at
        # every instant, and an unscoped filter would inject deletes into
        # unrelated pairs that merely happen to have a crossing order
        # alive at the same wall-clock instant
        et_periods = (cb.filter(F.col("next_uncrossed").isNull())
                        .select("pair_id", "era", "first_crossed")
                        .distinct())
        cb.unpersist()
        if et_periods.limit(1).count() == 0:
            continue
        # probe BOTH the first crossed instant (reference fixes 1 and 3
        # verbatim) and the era's last episode: at the last episode every
        # live order is alive-forever, so the delete set there is provably
        # non-empty for an eternal period — the progress guarantee behind
        # the 3-pass bound (docstring point 2)
        era_end = cur.groupBy("pair_id", "era").agg(
            F.max("microtimestamp").alias("at_ts"))
        eternal = (
            et_periods.select("pair_id", "era",
                              F.col("first_crossed").alias("at_ts"))
            .unionByName(
                et_periods.join(era_end, ["pair_id", "era"])
                .select("pair_id", "era", "at_ts"))
            .distinct())
        # "eternal takers" (reference fix 1: not is_maker, alive forever) and
        # "eternal crossed orders" (fix 3: is_crossed, alive forever) get a
        # synthesized delete event at the probed instants. ONE distributed
        # snapshot pass over all eternal instants (snapshot_multi broadcasts
        # the tiny instants frame) — no per-instant scans, no driver-side
        # collect of snapshot rows. An order eligible at both probed
        # instants of its (pair, era) keeps only the EARLIEST delete
        # (row_number below), so each chain gains at most one delete and
        # the repoint join cannot fan out.
        tgt = {f.name: f.dataType for f in cur.select(*_L3_COLS).schema.fields}
        instants = eternal.select("at_ts").distinct()
        w_del = W.partitionBy("pair_id", "era", "order_id").orderBy(
            "microtimestamp")
        deletes = (
            snapshot_multi(cur, instants)
            .join(F.broadcast(eternal), ["at_ts", "pair_id", "era"],
                  "left_semi")
            .filter((~F.col("is_maker") | F.col("is_crossed"))
                    & (F.col("chain_state") == "alive"))
            .select(
                F.col("at_ts").alias("microtimestamp"), "order_id",
                (F.col("event_no") + 1).alias("event_no"), "side", "price",
                "amount", F.lit(None).alias("fill"),
                F.lit(None).alias("next_microtimestamp"),
                F.lit(None).alias("next_event_no"), "pair_id", "exchange_id",
                F.lit(None).alias("local_timestamp"),
                "price_microtimestamp", "price_event_no",
                F.lit("deleted").alias("chain_state"), "era", "life_no",
            )
            .withColumn("_r", F.row_number().over(w_del))
            .filter(F.col("_r") == 1)
            .select([F.col(c).cast(tgt[c]).alias(c) for c in _L3_COLS])
            .localCheckpoint()
        )
        if deletes.isEmpty():
            continue
        d_keys = deletes.select(
            "pair_id", "era", "order_id",
            F.col("event_no").alias("d_eno"),
            F.col("microtimestamp").alias("d_ts"),
        )
        prior = cur.alias("c").join(
            F.broadcast(d_keys).alias("d"), ["pair_id", "era", "order_id"], "left")
        chains_to_delete = (
            (F.col("c.chain_state") == "alive")
            & (F.col("c.event_no") + 1 == F.col("d_eno"))
        )
        cur = prior.select(
            "c.microtimestamp", "c.order_id", "c.event_no", "c.side",
            "c.price", "c.amount", "c.fill",
            F.when(chains_to_delete, F.col("d_ts"))
             .otherwise(F.col("c.next_microtimestamp")).alias("next_microtimestamp"),
            F.when(chains_to_delete, F.col("d_eno"))
             .otherwise(F.col("c.next_event_no")).alias("next_event_no"),
            "c.pair_id", "c.exchange_id", "c.local_timestamp",
            "c.price_microtimestamp", "c.price_event_no",
            F.when(chains_to_delete, F.lit("chained"))
             .otherwise(F.col("c.chain_state")).alias("chain_state"),
            "c.era", "c.life_no",
        ).unionByName(deletes.select(*_L3_COLS)).localCheckpoint()
    raise RuntimeError(
        f"fix_crossed_books did not reach the uncrossed fixpoint in "
        f"{max_iter} passes — the proven bound is 3 (docstring), so this "
        f"is a bug, not a data problem")


def insert_level3_era(l3: DataFrame, new_era: str) -> DataFrame:
    """Q6 ``obanalytics.insert_level3_era`` (reference
    db/obanalytics_schema.sql:1440-1597): split the era containing
    ``new_era`` in two.

    Semantics (per pair/exchange whose current era spans ``new_era``):

    - every event at/after the boundary moves to the new era;
    - a chain OPEN across the boundary (its last pre-boundary event has a
      finite forward pointer ≥ boundary) is CLONED into the new era head:
      one synthetic event at the boundary with event_no=1 carrying the
      chain's current (side, price, amount, fill), price pointer =
      (boundary, 1), forward pointer = the first post-boundary event;
    - the pre-boundary side of such a chain is clipped: its last event's
      forward pointer becomes 'infinity' (here: NULL + chain_state 'alive');
    - post-boundary events of a crossing chain are renumbered 2, 3, … (the
      reference walks the ``next_*`` pointers with a recursive CTE; given
      audit-consistent pointers — chain_audit — that walk visits exactly the
      chain's post-boundary events in (microtimestamp, event_no) order, so a
      per-chain window rank computes the same numbers in one pass, with no
      iteration: the Spark-first translation of SURVEY §6.5);
    - price pointers of renumbered events follow the renumbering: a pointer
      before the boundary is redirected to the clone (boundary, 1), one at or
      after it keeps its microtimestamp and takes the target's new event_no
      (deviation noted: the reference's recursive branch propagates the OLD
      price_event_no even when redirecting to the clone whose event_no is
      always 1 — we keep the self-consistent form, as does the clone's
      next_event_no = 2 where the reference copies the stale pre-split
      number);
    - ``life_no`` (this engine's reincarnation counter) is recomputed within
      the new era, so downstream folds see a coherent per-era numbering.

    Scale: no recursion and no driver loop — one broadcast of the tiny
    (pair, exchange) → era row, chain windows on the usual fold keys, and one
    self-join of the (small) renumbered slice for price-pointer remapping.
    """
    ts = F.lit(new_era).cast("timestamp")
    prev = l3.groupBy("pair_id", "exchange_id").agg(
        F.max(F.when(F.col("era") <= ts, F.col("era"))).alias("prev_era")
    )
    j = l3.join(F.broadcast(prev), ["pair_id", "exchange_id"], "left")
    in_prev = F.col("era") == F.col("prev_era")
    pre = in_prev & (F.col("microtimestamp") < ts)
    post = in_prev & (F.col("microtimestamp") >= ts)
    crossing_evt = pre & (F.col("next_microtimestamp") >= ts)

    w_chain = W.partitionBy("pair_id", "exchange_id", "order_id", "era", "life_no")
    w_seq = w_chain.orderBy("microtimestamp", "event_no")
    chain_crosses = F.max(crossing_evt.cast("int")).over(w_chain) == 1
    tail_rank = F.sum(post.cast("int")).over(
        w_seq.rowsBetween(W.unboundedPreceding, W.currentRow))

    renum = post & chain_crosses
    ann = j.select(
        "*", crossing_evt.alias("_cross"), renum.alias("_renum"),
        pre.alias("_pre"), post.alias("_post"),
        # cast back to INT: the window sum is LongType, and the renumbered ids
        # must keep level3's canonical event_no type (the DuckDB mirror casts
        # the same expression — HUGEINT there — for the same reason)
        F.when(renum, (tail_rank + 1).cast("int"))
        .otherwise(F.col("event_no")).alias("_new_eno"),
    )

    # clones: one per crossing chain, at the boundary, event_no 1 → 2
    clones = ann.filter("_cross").select(
        ts.alias("microtimestamp"), "order_id",
        F.lit(1).alias("event_no"), "side", "price", "amount", "fill",
        "next_microtimestamp", F.lit(2).alias("next_event_no"),
        "pair_id", "exchange_id",
        F.lit(None).cast("timestamp").alias("local_timestamp"),
        ts.alias("price_microtimestamp"), F.lit(1).alias("price_event_no"),
        F.lit("chained").alias("chain_state"), ts.alias("era"),
        "life_no",  # placeholder; recomputed below
    )

    # price-pointer remap for renumbered events (same chain, post side)
    pmap = ann.filter("_renum").select(
        F.col("pair_id").alias("m_pair"), F.col("exchange_id").alias("m_exch"),
        F.col("order_id").alias("m_oid"), F.col("era").alias("m_era"),
        F.col("life_no").alias("m_life"),
        F.col("microtimestamp").alias("m_ts"), F.col("event_no").alias("m_eno"),
        F.col("_new_eno").alias("m_new_eno"),
    )
    rewritten = ann.join(
        pmap,
        (F.col("pair_id") == F.col("m_pair")) & (F.col("exchange_id") == F.col("m_exch"))
        & (F.col("order_id") == F.col("m_oid")) & (F.col("era") == F.col("m_era"))
        & (F.col("life_no") == F.col("m_life"))
        & (F.col("price_microtimestamp") == F.col("m_ts"))
        & (F.col("price_event_no") == F.col("m_eno"))
        & F.col("_renum"),
        "left",
    ).select(
        "microtimestamp", "order_id",
        F.col("_new_eno").alias("event_no"),
        "side", "price", "amount", "fill",
        F.when(F.col("_cross"), F.lit(None).cast("timestamp"))
        .otherwise(F.col("next_microtimestamp")).alias("next_microtimestamp"),
        F.when(F.col("_cross"), F.lit(None).cast("int"))
        .when(F.col("_renum") & (F.col("chain_state") == "chained"),
              F.col("_new_eno") + 1)
        .otherwise(F.col("next_event_no")).alias("next_event_no"),
        "pair_id", "exchange_id", "local_timestamp",
        F.when(F.col("_renum") & (F.col("price_microtimestamp") < ts), ts)
        .otherwise(F.col("price_microtimestamp")).alias("price_microtimestamp"),
        F.when(F.col("_renum") & (F.col("price_microtimestamp") < ts), F.lit(1))
        .when(F.col("m_new_eno").isNotNull(), F.col("m_new_eno"))
        .otherwise(F.col("price_event_no")).alias("price_event_no"),
        F.when(F.col("_cross"), F.lit("alive"))
        .otherwise(F.col("chain_state")).alias("chain_state"),
        F.when(F.col("_post"), ts).otherwise(F.col("era")).alias("era"),
        "life_no",
    )
    out = rewritten.unionByName(clones)
    # recompute life_no inside the NEW era (clones + moved events)
    w_order = (
        W.partitionBy("pair_id", "exchange_id", "order_id", "era")
        .orderBy("microtimestamp", "event_no")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    new_life = F.coalesce(
        F.sum((F.col("chain_state") == "deleted").cast("int")).over(w_order),
        F.lit(0),
    ).cast("int")
    return out.withColumn(
        "life_no", F.when(F.col("era") == ts, new_life).otherwise(F.col("life_no"))
    )


def insert_level3_era_oracle_sql(new_era: str) -> str:
    """DuckDB mirror of :func:`insert_level3_era` (linear window form of the
    reference's recursive walk — see the operator docstring)."""
    return f"""
WITH prev AS (
    SELECT pair_id, exchange_id,
           max(CASE WHEN era <= TIMESTAMP '{new_era}' THEN era END) AS prev_era
    FROM level3 GROUP BY pair_id, exchange_id
), ann AS (
    SELECT l.*,
        l.era = p.prev_era AND l.microtimestamp < TIMESTAMP '{new_era}'
            AND l.next_microtimestamp >= TIMESTAMP '{new_era}' AS _cross,
        l.era = p.prev_era AND l.microtimestamp < TIMESTAMP '{new_era}' AS _pre,
        l.era = p.prev_era AND l.microtimestamp >= TIMESTAMP '{new_era}' AS _post
    FROM level3 l JOIN prev p USING (pair_id, exchange_id)
), flagged AS (
    SELECT *,
        max(CASE WHEN _cross THEN 1 ELSE 0 END) OVER w_chain = 1 AS chain_crosses,
        sum(CASE WHEN _post THEN 1 ELSE 0 END) OVER (
            PARTITION BY pair_id, exchange_id, order_id, era, life_no
            ORDER BY microtimestamp, event_no
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tail_rank
    FROM ann
    WINDOW w_chain AS (PARTITION BY pair_id, exchange_id, order_id, era, life_no)
), renum AS (
    SELECT *, _post AND chain_crosses AS _renum,
        -- CAST back to INT: DuckDB's window sum is HUGEINT and would
        -- otherwise widen the whole event_no family (Spark casts its
        -- LongType sum identically)
        CASE WHEN _post AND chain_crosses THEN CAST(tail_rank + 1 AS INT)
             ELSE event_no END AS _new_eno
    FROM flagged
), rewritten AS (
    SELECT r.microtimestamp, r.order_id, r._new_eno AS event_no,
        r.side, r.price, r.amount, r.fill,
        CASE WHEN r._cross THEN NULL ELSE r.next_microtimestamp END AS next_microtimestamp,
        CASE WHEN r._cross THEN NULL
             WHEN r._renum AND r.chain_state = 'chained'
                 THEN CAST(r._new_eno + 1 AS INT)
             ELSE r.next_event_no END AS next_event_no,
        r.pair_id, r.exchange_id, r.local_timestamp,
        CASE WHEN r._renum AND r.price_microtimestamp < TIMESTAMP '{new_era}'
             THEN TIMESTAMP '{new_era}' ELSE r.price_microtimestamp
             END AS price_microtimestamp,
        CASE WHEN r._renum AND r.price_microtimestamp < TIMESTAMP '{new_era}' THEN 1
             WHEN m._new_eno IS NOT NULL THEN m._new_eno
             ELSE r.price_event_no END AS price_event_no,
        CASE WHEN r._cross THEN 'alive' ELSE r.chain_state END AS chain_state,
        CASE WHEN r._post THEN TIMESTAMP '{new_era}' ELSE r.era END AS era,
        r.life_no
    FROM renum r LEFT JOIN (SELECT * FROM renum WHERE _renum) m
      ON r._renum AND r.pair_id = m.pair_id AND r.exchange_id = m.exchange_id
     AND r.order_id = m.order_id AND r.era = m.era AND r.life_no = m.life_no
     AND r.price_microtimestamp = m.microtimestamp
     AND r.price_event_no = m.event_no
    UNION ALL
    SELECT TIMESTAMP '{new_era}', order_id, 1, side, price, amount, fill,
        next_microtimestamp, 2, pair_id, exchange_id, NULL,
        TIMESTAMP '{new_era}', 1, 'chained', TIMESTAMP '{new_era}', life_no
    FROM renum WHERE _cross
)
SELECT microtimestamp, order_id, event_no, side, price, amount, fill,
    next_microtimestamp, next_event_no, pair_id, exchange_id,
    local_timestamp, price_microtimestamp, price_event_no, chain_state, era,
    CASE WHEN era = TIMESTAMP '{new_era}' THEN
        CAST(coalesce(sum(CASE WHEN chain_state = 'deleted' THEN 1 ELSE 0 END)
            OVER (PARTITION BY pair_id, exchange_id, order_id, era
                  ORDER BY microtimestamp, event_no
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
        ELSE life_no END AS life_no
FROM rewritten
"""


def _merge_crossed_ctes() -> str:
    """CTE chain shared by the merge oracle and the move-audit oracle."""
    from obadiah_spark.operators.depth import SPREAD_L1_CTES
    from obadiah_spark.operators.quality import CROSSED_BOOKS_ORACLE_SUFFIX

    # reuse the crossed-books CTE chain verbatim, then rewrite level3
    cb_ctes = SPREAD_L1_CTES + CROSSED_BOOKS_ORACLE_SUFFIX[
        : CROSSED_BOOKS_ORACLE_SUFFIX.rindex(")") + 1
    ]
    return f"""{cb_ctes}, cb AS (
    SELECT pair_id, era, period_start AS first_crossed, next_uncrossed
    FROM chained WHERE crossed AND next_uncrossed IS NOT NULL
), tagged AS (
    SELECT l.*, cb.first_crossed, cb.next_uncrossed
    FROM level3 l LEFT JOIN cb
      ON l.pair_id = cb.pair_id AND l.era = cb.era
     AND l.microtimestamp >= cb.first_crossed
     AND l.microtimestamp < cb.next_uncrossed
), ann AS (
    SELECT *,
        CASE WHEN first_crossed IS NOT NULL THEN
            CASE WHEN next_death < next_uncrossed AND next_death < last_seen
                 THEN next_death ELSE next_uncrossed END
             ELSE microtimestamp END AS _new_ts
    FROM (
        SELECT *,
            min(CASE WHEN first_crossed IS NOT NULL AND chain_state = 'deleted'
                     THEN microtimestamp END) OVER (
                PARTITION BY pair_id, exchange_id, era, first_crossed, order_id
                ORDER BY microtimestamp, event_no
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_death,
            max(CASE WHEN first_crossed IS NOT NULL THEN microtimestamp END) OVER (
                PARTITION BY pair_id, exchange_id, era, first_crossed, order_id
                ) AS last_seen
        FROM tagged) t
), mapping AS (
    SELECT DISTINCT pair_id AS m_pair, era AS m_era, order_id AS m_oid,
           microtimestamp AS m_old, _new_ts AS m_new
    FROM ann
    WHERE first_crossed IS NOT NULL AND _new_ts <> microtimestamp
)"""


# final projection of the merge rewrite; `_old_ts` rides along so the move
# audit can compare before/after without re-joining on chain identity
_MERGE_CROSSED_SELECT = """
SELECT a._new_ts AS microtimestamp, a.microtimestamp AS _old_ts,
       a.order_id, a.event_no, a.side, a.price, a.amount, a.fill,
       coalesce(m.m_new, a.next_microtimestamp) AS next_microtimestamp,
       a.next_event_no, a.pair_id, a.exchange_id, a.local_timestamp,
       a.price_microtimestamp, a.price_event_no, a.chain_state, a.era, a.life_no
FROM ann a LEFT JOIN mapping m
  ON a.pair_id = m.m_pair AND a.era = m.m_era AND a.order_id = m.m_oid
 AND a.next_microtimestamp = m.m_old
"""


def merge_crossed_books_oracle_sql() -> str:
    """DuckDB mirror of :func:`merge_crossed_books` — the crossed periods
    come from the same linear level1 CTEs used by the crossed_books oracle."""
    cols = ("microtimestamp, order_id, event_no, side, price, amount, fill, "
            "next_microtimestamp, next_event_no, pair_id, exchange_id, "
            "local_timestamp, price_microtimestamp, price_event_no, "
            "chain_state, era, life_no")
    return (f"\nWITH {_merge_crossed_ctes()}, merged AS ({_MERGE_CROSSED_SELECT})\n"
            f"SELECT {cols} FROM merged\n")


def audit_microtimestamp_moves_oracle_sql(max_change_s: int) -> str:
    """I13+I14 oracle over the merge_crossed_books rewrite (moved rows only)."""
    return f"""
WITH {_merge_crossed_ctes()}, merged AS ({_MERGE_CROSSED_SELECT})
SELECT pair_id, era, order_id, event_no, life_no,
       _old_ts AS old_microtimestamp,
       microtimestamp AS new_microtimestamp,
       _old_ts AS exchange_microtimestamp,
       CASE WHEN microtimestamp < _old_ts THEN 'backward'
            WHEN epoch_us(microtimestamp) - epoch_us(_old_ts)
                 > {max_change_s} * 1000000 THEN 'too_far'
       END AS violation
FROM merged
WHERE microtimestamp <> _old_ts
"""


def merge_episodes_oracle_sql(start: str, end: str) -> str:
    return f"""
WITH win AS (
    SELECT * FROM level3
    WHERE microtimestamp >= TIMESTAMP '{start}'
      AND microtimestamp < TIMESTAMP '{end}'
), annotated AS (
    SELECT *,
           min(CASE WHEN chain_state = 'deleted' THEN microtimestamp END) OVER (
               PARTITION BY pair_id, exchange_id, era, order_id
               ORDER BY microtimestamp
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_death,
           max(microtimestamp) OVER (
               PARTITION BY pair_id, exchange_id, era, order_id) AS last_seen
    FROM win
)
SELECT
    CASE WHEN next_death < TIMESTAMP '{end}' AND next_death < last_seen
         THEN next_death ELSE TIMESTAMP '{end}' END AS microtimestamp,
    order_id, event_no, side, price, amount, fill,
    CASE WHEN next_microtimestamp IS NOT NULL
              AND next_microtimestamp <= next_death
              AND next_death < TIMESTAMP '{end}' AND next_death < last_seen
         THEN next_death
         WHEN next_microtimestamp IS NOT NULL
              AND next_microtimestamp < TIMESTAMP '{end}'
         THEN TIMESTAMP '{end}'
         ELSE next_microtimestamp END AS next_microtimestamp,
    next_event_no, pair_id, exchange_id, local_timestamp,
    price_microtimestamp, price_event_no, chain_state, era, life_no
FROM annotated
"""


# --------------------------- Q4 chain-integrity repairs (closed forms) ------

_CHAIN_KEYS = ["pair_id", "exchange_id", "era", "order_id", "life_no"]


def corrupt_chains(l3: DataFrame) -> DataFrame:
    """Deterministic corruption fabric for the Q4 repair round-trip: inject
    exactly the three defect classes ``fix_chain_integrity`` removes, on
    DISJOINT order families, such that the repair restores the original log
    bit-for-bit (the gate then hash-compares against plain level3).

    - order_id % 10 == 3 (life 0, chained first event): a spurious eternal
      duplicate creation — a clone of event 1 at ts+37s, chain_state
      'alive' (the reference's fix_duplicate target,
      db/obanalytics_schema.sql:2180-2196);
    - order_id % 10 == 4 (life 0, ≥3 events): event 2's forward pointer
      wiped and state flipped to 'alive' → event 3 orphans (fix_eternals,
      :2208-2256);
    - order_id % 10 == 6 (life 0, ≥2 chained events): a GENERATED delete
      (local_timestamp NULL) wedged between events 1 and 2, event 1
      re-pointed at it → the real event 2 orphans
      (fix_premature_deletes, :2290-2336).
    """
    cols = l3.columns
    # cut the input's lineage once, after the life-size window: each
    # operation below would otherwise re-analyze the whole upstream plan
    # (a synthesized level3 is deep)
    sized = l3.withColumn(
        "_n_life", F.max("event_no").over(W.partitionBy(*_CHAIN_KEYS))
    ).localCheckpoint()

    dup_fam = (F.col("order_id") % 10 == 3) & (F.col("life_no") == 0)
    dup_rows = (
        sized.filter(dup_fam & (F.col("event_no") == 1)
                     & (F.col("chain_state") == "chained"))
        .withColumn("microtimestamp",
                    F.col("microtimestamp") + F.expr("INTERVAL 37 SECONDS"))
        .withColumn("local_timestamp",
                    F.col("local_timestamp") + F.expr("INTERVAL 37 SECONDS"))
        .withColumn("chain_state", F.lit("alive"))
        .withColumn("next_microtimestamp", F.lit(None).cast("timestamp"))
        .withColumn("next_event_no", F.lit(None).cast("int"))
        .select(*cols)
    )

    pm_fam = ((F.col("order_id") % 10 == 6) & (F.col("life_no") == 0)
              & (F.col("_n_life") >= 2))
    e1 = sized.filter(pm_fam & (F.col("event_no") == 1)
                      & (F.col("chain_state") == "chained"))
    mid = F.timestamp_micros(
        ((F.unix_micros("microtimestamp")
          + F.unix_micros("next_microtimestamp")) / 2).cast("long"))
    g_meta = e1.select(*_CHAIN_KEYS,
                       F.col("next_microtimestamp").alias("_ts2"),
                       mid.alias("_g_ts"))
    # one join serves both the generated deletes (cloned from event 2)
    # and the re-pointing of event 1
    joined = sized.join(g_meta, _CHAIN_KEYS, "left")
    g_rows = (
        joined.filter(pm_fam & (F.col("event_no") == 2)
                      & (F.col("microtimestamp") == F.col("_ts2")))
        .withColumn("microtimestamp", F.col("_g_ts"))
        .withColumn("local_timestamp", F.lit(None).cast("timestamp"))
        .withColumn("chain_state", F.lit("deleted"))
        .withColumn("next_microtimestamp", F.lit(None).cast("timestamp"))
        .withColumn("next_event_no", F.lit(None).cast("int"))
        .select(*cols)
    )

    et_fam = ((F.col("order_id") % 10 == 4) & (F.col("life_no") == 0)
              & (F.col("_n_life") >= 3))
    wipe = et_fam & (F.col("event_no") == 2)
    repoint = ((F.col("event_no") == 1) & F.col("_g_ts").isNotNull()
               & (F.col("next_microtimestamp") == F.col("_ts2")))
    rewrite = {
        "chain_state": F.when(wipe, "alive").otherwise(F.col("chain_state")),
        "next_event_no": F.when(wipe, F.lit(None).cast("int"))
        .otherwise(F.col("next_event_no")),
        "next_microtimestamp": F.when(wipe, F.lit(None).cast("timestamp"))
        .when(repoint, F.col("_g_ts"))
        .otherwise(F.col("next_microtimestamp")),
    }
    base = joined.select(
        *[rewrite[c].alias(c) if c in rewrite else c for c in cols])
    return base.unionByName(dup_rows).unionByName(g_rows)


def fix_chain_integrity(l3: DataFrame) -> DataFrame:
    """Q4 repairs as one closed-form rewrite — the reference's
    ``qty_level3_fix_duplicate_order_events`` / ``fix_eternals`` /
    ``fix_premature_deletes`` (db/obanalytics_schema.sql:2157-2336), which
    are per-era plpgsql DELETE/UPDATE programs there and three rules applied
    to each life here:

    1. drop spurious eternal duplicate creations: event_no = 1, 'alive',
       belonging to an (order, life) with any duplicated event_no;
    2. premature deletes: a GENERATED delete (``local_timestamp`` NULL —
       "produced by us, not by exchange") whose (order, life, event_no) has
       an ORPHANED exchange-produced twin: re-point whoever targets the
       generated row at the twin, then drop the generated row;
    3. eternals: for every remaining orphan (event_no > 1, nobody's
       ``next`` targets it), reconnect the same life's still-'alive' event
       with event_no − 1.

    Order matters exactly as in the reference: the premature reconnect runs
    before orphan-based eternal reconnection (so a predecessor pointing at
    a generated delete is never treated as eternal), and the generated row
    is dropped only if still orphaned AFTER re-pointing.

    Every rule reads one life (``_CHAIN_KEYS``) only, so the rewrite is one
    shuffle on the life key and a per-life kernel (:func:`_fix_lives`)
    streaming the sorted partition, with no self-joins."""
    keys = list(_CHAIN_KEYS)

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            starts = group_starts(pdf[keys])
            # the last life may continue in the next batch: hold it back
            if starts[-1] > 0:
                yield _fix_lives(pdf.iloc[:starts[-1]], starts[:-1])
            carry = pdf.iloc[starts[-1]:]
        if carry is not None and len(carry):
            yield _fix_lives(carry, group_starts(carry[keys]))

    return (l3.repartition(*keys).sortWithinPartitions(*keys)
            .mapInPandas(runner, l3.schema))


_NAT = np.iinfo("i8").min  # NaT as int64 ticks


def _int_list(s: pd.Series) -> list:
    """Column values as Python ints (timestamps as int64 ticks), None for
    NULL."""
    a = s.to_numpy()
    null = pd.isna(a)
    vals = (a.astype("M8[ns]").view("i8") if a.dtype.kind == "M"
            else np.where(null, 0, a).astype("i8")).tolist()
    for i in np.flatnonzero(null):
        vals[i] = None
    return vals


def _fix_lives(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
    """The three Q4 rules over a slice of whole lives (``starts`` = first
    row of each life). Emits rows of ``pdf`` with ``next_microtimestamp``,
    ``next_event_no`` and ``chain_state`` rewritten; a row may be dropped
    or, where several repairs target it (as the equi-joins would fan out),
    repeated."""
    ts = _int_list(pdf["microtimestamp"])
    eno = _int_list(pdf["event_no"])
    nts = _int_list(pdf["next_microtimestamp"])
    neno = _int_list(pdf["next_event_no"])
    exch = pdf["local_timestamp"].notna().tolist()
    state = pdf["chain_state"].tolist()

    def orphans(rows):
        # (row, ts) of every event_no > 1 row no same-life pointer targets
        ptr = {(r[1], r[2]) for r in rows
               if r[1] is not None and r[2] is not None}
        return [(r, ts[r[0]]) for r in rows
                if eno[r[0]] is not None and eno[r[0]] > 1
                and (ts[r[0]], eno[r[0]]) not in ptr]

    # working rows: (source row, next_ts, next_eno, chain_state)
    out: list[tuple] = []
    for s, e in zip(starts.tolist(), starts[1:].tolist() + [len(pdf)]):
        # (1) duplicate eternal creations
        life = range(s, e)
        if len({eno[i] for i in life}) < e - s:
            life = [i for i in life
                    if not (eno[i] == 1 and state[i] == "alive")]
        rows = [(i, nts[i], neno[i], state[i]) for i in life]

        # (2) premature deletes: generated deletes by event_no
        gen: dict[int, list] = {}
        for r in rows:
            i = r[0]
            if (r[3] == "deleted" and not exch[i] and eno[i] is not None
                    and ts[i] is not None):
                gen.setdefault(eno[i], []).append(ts[i])
        if gen:
            twin: dict[tuple, list] = {}
            for r, t in orphans(rows):
                if exch[r[0]] and eno[r[0]] in gen:
                    for g in gen[eno[r[0]]]:
                        twin.setdefault((g, eno[r[0]]), []).append(t)
            if twin:
                rows = [
                    (r[0], r[1] if t is None else t, r[2], r[3])
                    for r in rows
                    for t in twin.get((r[1], r[2]), (r[1],))]
            # drop generated deletes that are STILL orphaned
            drop = {(eno[r[0]], t) for r, t in orphans(rows)
                    if r[3] == "deleted" and not exch[r[0]]
                    and t is not None}
            if drop:
                rows = [r for r in rows
                        if (eno[r[0]], ts[r[0]]) not in drop]

        # (3) eternals: an 'alive' event_no − 1 row links to each orphan
        orph: dict[int, list] = {}
        for r, t in orphans(rows):
            orph.setdefault(eno[r[0]], []).append(t)
        for r in rows:
            e1 = None if eno[r[0]] is None else eno[r[0]] + 1
            if r[3] == "alive" and e1 in orph:
                out.extend((r[0], t, e1, "chained") for t in orph[e1])
            else:
                out.append(r)

    res = pdf.iloc[[r[0] for r in out]].reset_index(drop=True)
    if not out:
        return res
    _, new_nts, new_neno, new_state = zip(*out)
    res["next_microtimestamp"] = np.array(
        [_NAT if t is None else t for t in new_nts], "i8").view("M8[ns]")
    res["next_event_no"] = np.array(new_neno, "f8")  # NULL as NaN
    res["chain_state"] = list(new_state)
    return res
