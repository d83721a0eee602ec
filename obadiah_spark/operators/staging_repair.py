"""Q5 bitstamp staging repairs (SURVEY §2.7 Q5).

Reference parity:
- ``bitstamp.find_and_repair_missing_fill`` (db/bitstamp_schema.sql:634-690):
  an event whose fill is missing but which has a matched trade gets the
  trade's amount as its fill, and every earlier event of the same chain has
  its amount raised by that fill (the feed under-reported the pre-fill
  amounts). The reference walks the chain backwards with a RECURSIVE CTE,
  adding ``amount + fill`` one predecessor at a time; because each step adds
  the SAME recovered fill, the whole walk collapses to one window sum —
  amount(k) += Σ recovered_fill(m) over missing events m AFTER k in the
  chain. No recursion, one shuffle on the chain keys (the Spark-first
  translation of SURVEY §4.2.5).
- ``bitstamp.reveal_episodes`` (db/bitstamp_schema.sql:2098-2161): both
  events of a matched trade move to the trade's *episode* instant = the
  AGGRESSOR event's price-chain start (``price_microtimestamp``) — the
  aggressor's arrival reveals that the whole trade belongs to that episode.

Deviations (documented):
- the engine's level3 keeps NULL fill on a life's first event (creation) and
  on deletes, so the repair targets ``fill IS NULL AND event_no > 1 AND
  chain_state <> 'deleted'`` linked events; the reference additionally
  rewrites the creation event's fill to −amount (bitstamp staging keeps
  negative creation fills — our canonical shape does not carry them);
- ``reveal_episodes`` here also follows forward pointers onto moved events
  (one mapping join, same pattern as merge_crossed_books) — the reference
  leaves pointer maintenance to staging triggers; a batch rewrite must keep
  the frame self-consistent in the same pass;
- when several trades move one event to different episodes the earliest
  episode wins (min — the reference's UPDATE order is nondeterministic);
- the reference's missing-fill recursion REBUILDS each predecessor amount
  from the chain rule (amount(k) := amount(k+1) + fill(k+1)); the closed
  form here adds the recovered fill to the stored amounts instead. The two
  coincide exactly on the inconsistency the repair targets (amounts
  consistent except the missing fill, which the feed reported as a no-op) —
  and with several missing fills on one chain the reference's overlapping
  walks produce update-order-dependent results, so the batch form's
  summed-recovery is the determinization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from obadiah_spark.operators.repair import _L3_COLS


def find_and_repair_missing_fill(l3: DataFrame, trade_links: DataFrame) -> DataFrame:
    """Q5: repair NULL fills from matched trades; returns the full rewritten
    level3 frame.

    ``trade_links`` needs (pair_id, microtimestamp, order_id, event_no,
    trade_amount) — the event link of each matched trade and the traded
    amount (summed if several trades link one event).
    """
    links = trade_links.groupBy(
        F.col("pair_id").alias("t_pair"), F.col("microtimestamp").alias("t_ts"),
        F.col("order_id").alias("t_oid"), F.col("event_no").alias("t_eno"),
    ).agg(F.sum("trade_amount").alias("_trade_amount"))
    j = l3.join(
        links,
        (F.col("pair_id") == F.col("t_pair"))
        & (F.col("microtimestamp") == F.col("t_ts"))
        & (F.col("order_id") == F.col("t_oid"))
        & (F.col("event_no") == F.col("t_eno")),
        "left",
    )
    recovered = F.when(
        F.col("fill").isNull() & (F.col("chain_state") != "deleted")
        & (F.col("event_no") > 1) & F.col("_trade_amount").isNotNull(),
        F.col("_trade_amount"),
    )
    # events AFTER the current one in chain order = rows before it when the
    # chain is scanned backwards
    w_later = (
        W.partitionBy("pair_id", "exchange_id", "era", "order_id", "life_no")
        .orderBy(F.desc("microtimestamp"), F.desc("event_no"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ann = j.withColumn("_rec", recovered)
    return ann.select(
        "microtimestamp", "order_id", "event_no", "side", "price",
        (F.col("amount")
         + F.coalesce(F.sum("_rec").over(w_later), F.lit(0.0))).alias("amount"),
        F.coalesce(F.col("_rec"), F.col("fill")).alias("fill"),
        *_L3_COLS[7:],
    )


def find_and_repair_missing_fill_oracle_sql(links_cte: str) -> str:
    """DuckDB mirror; ``links_cte`` must define ``fill_links(pair_id,
    microtimestamp, order_id, event_no, trade_amount)``."""
    return f"""
WITH {links_cte}, agg_links AS (
    SELECT pair_id, microtimestamp, order_id, event_no,
           sum(trade_amount) AS trade_amount
    FROM fill_links GROUP BY 1, 2, 3, 4
), ann AS (
    SELECT l.*,
        CASE WHEN l.fill IS NULL AND l.chain_state <> 'deleted'
                  AND l.event_no > 1 AND a.trade_amount IS NOT NULL
             THEN a.trade_amount END AS _rec
    FROM corrupted l LEFT JOIN agg_links a
      ON l.pair_id = a.pair_id AND l.microtimestamp = a.microtimestamp
     AND l.order_id = a.order_id AND l.event_no = a.event_no
)
SELECT microtimestamp, order_id, event_no, side, price,
    amount + coalesce(sum(_rec) OVER (
        PARTITION BY pair_id, exchange_id, era, order_id, life_no
        ORDER BY microtimestamp DESC, event_no DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS amount,
    coalesce(_rec, fill) AS fill,
    next_microtimestamp, next_event_no, pair_id, exchange_id,
    local_timestamp, price_microtimestamp, price_event_no, chain_state, era,
    life_no
FROM ann
"""


# shared corruption fabric for the gate: NULL the fill of every 5th matched
# maker event and subtract the lost fills from all earlier amounts of the
# life — exactly the inconsistency find_and_repair_missing_fill undoes, so
# repair(corrupt(level3)) must reproduce level3's amounts/fills bit-for-bit
# (pytest-enforced; the gate hash-checks Spark vs DuckDB on the same pipeline)
CORRUPT_FABRIC_CTES = """fill_links AS (
    SELECT pair_id, microtimestamp,
           coalesce(buy_order_id, sell_order_id) AS order_id,
           coalesce(buy_event_no, sell_event_no) AS event_no,
           amount AS trade_amount
    FROM matches WHERE exchange_trade_id % 5 = 0
), corrupted AS (
    SELECT l.microtimestamp, l.order_id, l.event_no, l.side, l.price,
        l.amount - coalesce(sum(CASE WHEN k.order_id IS NOT NULL
                                     THEN l.fill END) OVER (
            PARTITION BY l.pair_id, l.exchange_id, l.era, l.order_id, l.life_no
            ORDER BY l.microtimestamp DESC, l.event_no DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS amount,
        CASE WHEN k.order_id IS NOT NULL THEN NULL ELSE l.fill END AS fill,
        l.next_microtimestamp, l.next_event_no, l.pair_id, l.exchange_id,
        l.local_timestamp, l.price_microtimestamp, l.price_event_no,
        l.chain_state, l.era, l.life_no
    FROM level3 l
    LEFT JOIN (SELECT DISTINCT pair_id, microtimestamp, order_id, event_no
               FROM fill_links) k
      ON l.pair_id = k.pair_id AND l.microtimestamp = k.microtimestamp
     AND l.order_id = k.order_id AND l.event_no = k.event_no
)"""


def corrupt_fills(l3: DataFrame, matches: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Spark twin of CORRUPT_FABRIC_CTES: returns (corrupted_l3, links)."""
    links = matches.filter(F.col("exchange_trade_id") % 5 == 0).select(
        "pair_id", "microtimestamp",
        F.coalesce("buy_order_id", "sell_order_id").alias("order_id"),
        F.coalesce("buy_event_no", "sell_event_no").alias("event_no"),
        F.col("amount").alias("trade_amount"),
    )
    k = links.select(
        F.col("pair_id").alias("k_pair"), F.col("microtimestamp").alias("k_ts"),
        F.col("order_id").alias("k_oid"), F.col("event_no").alias("k_eno"),
    ).distinct()
    j = l3.join(
        k,
        (F.col("pair_id") == F.col("k_pair"))
        & (F.col("microtimestamp") == F.col("k_ts"))
        & (F.col("order_id") == F.col("k_oid"))
        & (F.col("event_no") == F.col("k_eno")),
        "left",
    )
    lost = F.when(F.col("k_oid").isNotNull(), F.col("fill"))
    w_later = (
        W.partitionBy("pair_id", "exchange_id", "era", "order_id", "life_no")
        .orderBy(F.desc("microtimestamp"), F.desc("event_no"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    corrupted = j.select(
        "microtimestamp", "order_id", "event_no", "side", "price",
        (F.col("amount")
         - F.coalesce(F.sum(lost).over(w_later), F.lit(0.0))).alias("amount"),
        F.when(F.col("k_oid").isNotNull(), F.lit(None).cast("double"))
        .otherwise(F.col("fill")).alias("fill"),
        *_L3_COLS[7:],
    )
    return corrupted, links


# ------------------------------------------------------- reveal_episodes ----

def _aggressor_resting(trades: DataFrame) -> DataFrame:
    """Each trade's aggressor (a_*) and resting (r_*) event keys; ``side``
    is the taker direction ('b' = the buyer is the aggressor)."""
    is_buy = F.col("side") == "b"
    return trades.select(
        "pair_id",
        F.when(is_buy, F.col("buy_microtimestamp"))
        .otherwise(F.col("sell_microtimestamp")).alias("a_ts"),
        F.when(is_buy, F.col("buy_order_id"))
        .otherwise(F.col("sell_order_id")).alias("a_oid"),
        F.when(is_buy, F.col("buy_event_no"))
        .otherwise(F.col("sell_event_no")).alias("a_eno"),
        F.when(is_buy, F.col("sell_microtimestamp"))
        .otherwise(F.col("buy_microtimestamp")).alias("r_ts"),
        F.when(is_buy, F.col("sell_order_id"))
        .otherwise(F.col("buy_order_id")).alias("r_oid"),
        F.when(is_buy, F.col("sell_event_no"))
        .otherwise(F.col("buy_event_no")).alias("r_eno"),
    )


def _apply_moves(l3: DataFrame, moves: DataFrame) -> DataFrame:
    """Rewrite level3 by ``moves`` (m_pair, m_old, m_oid, m_eno → m_new; unique
    on the first four by its groupBy): each moved event takes its new
    microtimestamp, and forward and price-chain pointers onto a moved event
    follow it (a moved event may be a price-chain start — later members and
    the start's own self-pointer must track it)."""
    # two consumers (event rewrite + pointer follow): materialize once
    # (lazy: the eager flip — the winnow_pairs race fix — A/B'd equal to
    # marginally slower at both repairs, r16)
    moves = moves.localCheckpoint(eager=False)
    out = l3.join(
        moves,
        (F.col("pair_id") == F.col("m_pair"))
        & (F.col("microtimestamp") == F.col("m_old"))
        & (F.col("order_id") == F.col("m_oid"))
        & (F.col("event_no") == F.col("m_eno")),
        "left",
    )
    for p, ts_col, eno_col in (("p", "next_microtimestamp", "next_event_no"),
                               ("q", "price_microtimestamp", "price_event_no")):
        ptr = moves.select(
            F.col("m_pair").alias(f"{p}_pair"), F.col("m_oid").alias(f"{p}_oid"),
            F.col("m_old").alias(f"{p}_old"), F.col("m_eno").alias(f"{p}_eno"),
            F.col("m_new").alias(f"{p}_new"),
        )
        out = out.join(
            ptr,
            (F.col("pair_id") == F.col(f"{p}_pair"))
            & (F.col("order_id") == F.col(f"{p}_oid"))
            & (F.col(ts_col) == F.col(f"{p}_old"))
            & (F.col(eno_col) == F.col(f"{p}_eno")),
            "left",
        )
    return out.select(
        F.coalesce(F.col("m_new"), F.col("microtimestamp")).alias("microtimestamp"),
        "order_id", "event_no", "side", "price", "amount", "fill",
        F.coalesce(F.col("p_new"), F.col("next_microtimestamp")).alias("next_microtimestamp"),
        "next_event_no", "pair_id", "exchange_id", "local_timestamp",
        F.coalesce(F.col("q_new"), F.col("price_microtimestamp")).alias("price_microtimestamp"),
        *_L3_COLS[13:],
    )


def reveal_episodes(l3: DataFrame, trades: DataFrame) -> DataFrame:
    """Q5 ``bitstamp.reveal_episodes``: move both events of each matched
    trade to the trade's episode instant — the aggressor event's
    price-chain start. Returns the full rewritten level3 frame.

    ``trades`` needs (pair_id, side, buy_microtimestamp, buy_order_id,
    buy_event_no, sell_microtimestamp, sell_order_id, sell_event_no) with
    ``side`` = the taker direction ('b' = buyer is the aggressor) — the
    inferred_trades output shape.
    """
    t = _aggressor_resting(trades)
    # the aggressor event's price-chain start = the episode instant
    ag = t.join(
        l3.select(
            F.col("pair_id").alias("l_pair"), F.col("microtimestamp").alias("l_ts"),
            F.col("order_id").alias("l_oid"), F.col("event_no").alias("l_eno"),
            F.col("price_microtimestamp").alias("episode_ts"),
        ),
        (F.col("pair_id") == F.col("l_pair")) & (F.col("a_ts") == F.col("l_ts"))
        & (F.col("a_oid") == F.col("l_oid")) & (F.col("a_eno") == F.col("l_eno")),
    )
    moves = (
        ag.select("pair_id", F.col("a_ts").alias("m_old"),
                  F.col("a_oid").alias("m_oid"), F.col("a_eno").alias("m_eno"),
                  "episode_ts")
        .unionByName(ag.select(
            "pair_id", F.col("r_ts").alias("m_old"),
            F.col("r_oid").alias("m_oid"), F.col("r_eno").alias("m_eno"),
            "episode_ts"))
        .groupBy(F.col("pair_id").alias("m_pair"), "m_old", "m_oid", "m_eno")
        .agg(F.min("episode_ts").alias("m_new"))
        .filter(F.col("m_new") != F.col("m_old"))
    )
    return _apply_moves(l3, moves)


def normalize_event_order(l3: DataFrame) -> DataFrame:
    """Q5 ``pga_cleanse`` normalization loops (db/bitstamp_schema.sql:
    1686-1747): restore per-chain microtimestamp monotonicity after repairs
    moved events around.

    - BACKWARD: an unmatched fill-bearing event (or a creation) whose
      successor sits earlier moves back to it. The reference loops one
      pointer-hop per iteration (triggers refresh next pointers between
      passes); the fixpoint satisfies f(k) = min(ts(k), f(k+1)) for
      eligible k, else ts(k) — propagation passes only through contiguous
      ELIGIBLE runs, so the closed form is a suffix minimum within
      eligibility islands plus the first ineligible row after the island
      (one window pass, no loop).
    - FORWARD: an unmatched event earlier than the running maximum of its
      predecessors moves up to that maximum. Values only rise to existing
      prefix maxima, so the qualification set shrinks monotonically and a
      single window pass IS the fixpoint.

    Expects a boolean ``is_matched`` column (the reference reads its
    ``trade_id`` column); forward pointers of chained rows are rebuilt as
    lead(new_ts) so the frame stays self-consistent (the triggers' job).
    """
    chain = ["pair_id", "exchange_id", "era", "order_id", "life_no"]
    w_asc = W.partitionBy(*chain).orderBy("event_no")
    elig_b = (
        ((F.col("fill") > 0) | F.col("fill").isNull()) & ~F.col("is_matched")
        | (F.col("event_no") == 1)
    ) & (F.col("chain_state") == "chained")
    s = l3.withColumn("_inelig", (~elig_b).cast("int")).withColumn(
        "_isl", F.sum("_inelig").over(
            w_asc.rowsBetween(W.unboundedPreceding, W.currentRow)))
    w_isl_desc = (
        W.partitionBy(*chain, "_isl").orderBy(F.desc("event_no"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    nb = F.first(
        F.when(F.col("_inelig") == 1, F.col("microtimestamp")), ignorenulls=True
    ).over(w_asc.rowsBetween(1, W.unboundedFollowing))
    back = s.withColumn("_susp", F.min("microtimestamp").over(w_isl_desc)).withColumn(
        "_ts2",
        F.when(F.col("_inelig") == 0,
               F.least("_susp", F.coalesce(nb, F.col("_susp"))))
        .otherwise(F.col("microtimestamp")),
    )
    run_max = F.max("_ts2").over(w_asc.rowsBetween(W.unboundedPreceding, W.currentRow))
    fwd = back.withColumn(
        "_ts3",
        F.when(~F.col("is_matched") & (F.col("_ts2") < run_max), run_max)
        .otherwise(F.col("_ts2")),
    )
    new_next = F.when(
        F.col("chain_state") == "chained", F.lead("_ts3").over(w_asc)
    ).otherwise(F.col("next_microtimestamp"))
    moved = fwd.withColumn("_next2", new_next)
    # price-chain pointers must follow moved events too (reveal_episodes /
    # fix_aggressor_order do the same): remap price_microtimestamp through
    # the chain's own old→new map, keyed by (chain, price_event_no) and
    # guarded on the old timestamp so an already-dangling pointer is left
    # untouched rather than silently rewritten
    pm = moved.select(
        *[F.col(c).alias(f"_pm_{c}") for c in chain],
        F.col("event_no").alias("_pm_eno"),
        F.col("microtimestamp").alias("_pm_old"),
        F.col("_ts3").alias("_pm_new"),
    )
    cond = [moved[c] == pm[f"_pm_{c}"] for c in chain] + [
        moved["price_event_no"] == pm["_pm_eno"],
        moved["price_microtimestamp"] == pm["_pm_old"],
    ]
    joined = moved.join(pm, cond, "left")
    return joined.select(
        F.col("_ts3").alias("microtimestamp"),
        "order_id", "event_no", "side", "price", "amount", "fill",
        F.col("_next2").alias("next_microtimestamp"),
        "next_event_no", "pair_id", "exchange_id", "local_timestamp",
        F.coalesce("_pm_new", "price_microtimestamp").alias("price_microtimestamp"),
        "price_event_no", "chain_state", "era", "life_no",
    )


# disorder fabric shared by the cleanse gate entry: push every %7==2 order's
# 2nd chained event 10 minutes forward (creating ts(2) > ts(3) inversions),
# rebuild the chain pointers, and mark maker-matched events
CLEANSE_FABRIC_CTES = """pert AS (
    SELECT l.*,
        CASE WHEN (l.order_id % 7) = 2 AND l.event_no = 2
                  AND l.chain_state = 'chained'
             THEN l.microtimestamp + INTERVAL '10' MINUTE
             ELSE l.microtimestamp END AS new_ts,
        m.order_id IS NOT NULL AS is_matched
    FROM level3 l
    LEFT JOIN (SELECT DISTINCT pair_id, microtimestamp,
                      coalesce(buy_order_id, sell_order_id) AS order_id,
                      coalesce(buy_event_no, sell_event_no) AS event_no
               FROM matches) m
      ON m.pair_id = l.pair_id AND m.microtimestamp = l.microtimestamp
     AND m.order_id = l.order_id AND m.event_no = l.event_no
), disordered AS (
    SELECT new_ts AS microtimestamp, order_id, event_no, side, price, amount,
        fill,
        CASE WHEN chain_state = 'chained' THEN lead(new_ts) OVER w
             ELSE next_microtimestamp END AS next_microtimestamp,
        next_event_no, pair_id, exchange_id, local_timestamp,
        price_microtimestamp, price_event_no, chain_state, era, life_no,
        is_matched
    FROM pert
    WINDOW w AS (PARTITION BY pair_id, exchange_id, era, order_id, life_no
                 ORDER BY event_no)
)"""


def normalize_event_order_oracle_sql() -> str:
    """DuckDB mirror of :func:`normalize_event_order` over the disorder
    fabric (island suffix-min + first-ineligible lookahead + running max)."""
    return f"""
WITH {CLEANSE_FABRIC_CTES}, flags AS (
    SELECT *,
        CASE WHEN (((fill > 0) OR fill IS NULL) AND NOT is_matched
                   OR event_no = 1)
                  AND chain_state = 'chained'
             THEN 0 ELSE 1 END AS _inelig
    FROM disordered
), isl AS (
    SELECT *,
        sum(_inelig) OVER (
            PARTITION BY pair_id, exchange_id, era, order_id, life_no
            ORDER BY event_no
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _isl,
        first_value(CASE WHEN _inelig = 1 THEN microtimestamp END IGNORE NULLS)
            OVER (PARTITION BY pair_id, exchange_id, era, order_id, life_no
                  ORDER BY event_no
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS _nb
    FROM flags
), back AS (
    SELECT *,
        CASE WHEN _inelig = 0 THEN
            least(min(microtimestamp) OVER (
                      PARTITION BY pair_id, exchange_id, era, order_id,
                                   life_no, _isl
                      ORDER BY event_no DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  coalesce(_nb,
                      min(microtimestamp) OVER (
                          PARTITION BY pair_id, exchange_id, era, order_id,
                                       life_no, _isl
                          ORDER BY event_no DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
             ELSE microtimestamp END AS _ts2
    FROM isl
), fwd AS (
    SELECT *,
        CASE WHEN NOT is_matched
                  AND _ts2 < max(_ts2) OVER (
                      PARTITION BY pair_id, exchange_id, era, order_id, life_no
                      ORDER BY event_no
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             THEN max(_ts2) OVER (
                      PARTITION BY pair_id, exchange_id, era, order_id, life_no
                      ORDER BY event_no
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             ELSE _ts2 END AS _ts3
    FROM back
), moved AS (
    SELECT *,
        CASE WHEN chain_state = 'chained' THEN lead(_ts3) OVER w
             ELSE next_microtimestamp END AS _next2
    FROM fwd
    WINDOW w AS (PARTITION BY pair_id, exchange_id, era, order_id, life_no
                 ORDER BY event_no)
)
SELECT f._ts3 AS microtimestamp, f.order_id, f.event_no, f.side, f.price,
       f.amount, f.fill, f._next2 AS next_microtimestamp,
       f.next_event_no, f.pair_id, f.exchange_id, f.local_timestamp,
       coalesce(p._ts3, f.price_microtimestamp) AS price_microtimestamp,
       f.price_event_no, f.chain_state, f.era, f.life_no
FROM moved f LEFT JOIN moved p
  ON p.pair_id = f.pair_id AND p.exchange_id = f.exchange_id
 AND p.era = f.era AND p.order_id = f.order_id AND p.life_no = f.life_no
 AND p.event_no = f.price_event_no
 AND p.microtimestamp = f.price_microtimestamp
"""


def fix_aggressor_creation_order(l3: DataFrame, trades: DataFrame) -> DataFrame:
    """Q5 ``bitstamp.fix_aggressor_creation_order``
    (db/bitstamp_schema.sql:693-832): merge episodes of aggressors Bitstamp
    processed in the wrong order. Two repair rules, applied to the
    price-chain START event of the implicated order (whose microtimestamp ==
    its price_microtimestamp):

    - phase A (episode-order inversion): each trade proposes the aggressor's
      price-chain start as the episode of BOTH its events; if some order's
      events would be assigned episodes that decrease as event_no increases,
      the later episodes are merged down to the running minimum;
    - phase B (aggressor-before-resting): a trade whose aggressor price
      chain started BEFORE the resting order's price chain moves the
      resting chain's start back to the aggressor's.

    The reference loops UPDATEs because each merge is visible only row by
    row; the batch form computes phase A's running minimum over ALL proposed
    episodes per order in one window, which collapses an entire inversion
    chain in a single pass (the Spark-first translation — the loop's
    remaining job, re-linking updated trade rows, is the staging triggers'
    concern, not the repair's). Output = the full rewritten level3 with
    forward pointers following moved events; conflicting targets merge to
    the earliest instant (min).
    """
    t = _aggressor_resting(trades)
    lsel = l3.select(
        F.col("pair_id").alias("l_pair"), F.col("microtimestamp").alias("l_ts"),
        F.col("order_id").alias("l_oid"), F.col("event_no").alias("l_eno"),
        F.col("price_microtimestamp").alias("l_pts"),
        F.col("price_event_no").alias("l_peno"),
        F.col("era").alias("l_era"), F.col("life_no").alias("l_life"),
    )
    j = (
        t.join(lsel, (F.col("pair_id") == F.col("l_pair"))
               & (F.col("a_ts") == F.col("l_ts"))
               & (F.col("a_oid") == F.col("l_oid"))
               & (F.col("a_eno") == F.col("l_eno")))
        .select("pair_id", "a_ts", "a_oid", "a_eno", "r_ts", "r_oid", "r_eno",
                F.col("l_pts").alias("a_pts"), F.col("l_peno").alias("a_peno"),
                F.col("l_era").alias("a_era"), F.col("l_life").alias("a_life"))
        .join(lsel, (F.col("pair_id") == F.col("l_pair"))
              & (F.col("r_ts") == F.col("l_ts"))
              & (F.col("r_oid") == F.col("l_oid"))
              & (F.col("r_eno") == F.col("l_eno")))
        .select("pair_id", "a_ts", "a_oid", "a_eno", "a_pts", "a_peno",
                "a_era", "a_life",
                "r_ts", "r_oid", "r_eno",
                F.col("l_pts").alias("r_pts"), F.col("l_peno").alias("r_peno"),
                F.col("l_era").alias("r_era"), F.col("l_life").alias("r_life"))
    )
    # phase A: proposed episode per trade event; running-min inversion merge.
    # The partition carries the EVENT's era/life: event_no restarts per
    # (era, life), so a reused order_id across eras or reincarnated lives
    # must not let episodes merge across those boundaries.
    proposed = (
        j.select("pair_id", F.col("a_oid").alias("order_id"),
                 F.col("a_era").alias("ev_era"), F.col("a_life").alias("ev_life"),
                 F.col("a_eno").alias("event_no"),
                 F.col("a_pts").alias("episode_ts"),
                 F.col("a_oid").alias("ep_oid"), F.col("a_peno").alias("ep_eno"))
        .unionByName(j.select(
            "pair_id", F.col("r_oid").alias("order_id"),
            F.col("r_era").alias("ev_era"), F.col("r_life").alias("ev_life"),
            F.col("r_eno").alias("event_no"),
            F.col("a_pts").alias("episode_ts"),
            F.col("a_oid").alias("ep_oid"), F.col("a_peno").alias("ep_eno")))
    )
    w_inv = (
        W.partitionBy("pair_id", "order_id", "ev_era", "ev_life")
        .orderBy(F.desc("event_no"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    phase_a = (
        proposed.withColumn("_new", F.min("episode_ts").over(w_inv))
        .filter(F.col("_new") < F.col("episode_ts"))
        .select("pair_id", F.col("episode_ts").alias("m_old"),
                F.col("ep_oid").alias("m_oid"), F.col("ep_eno").alias("m_eno"),
                F.col("_new").alias("m_new"))
    )
    # phase B: aggressor's price chain started before the resting order's
    phase_b = j.filter(F.col("a_pts") < F.col("r_pts")).select(
        "pair_id", F.col("r_pts").alias("m_old"),
        F.col("r_oid").alias("m_oid"), F.col("r_peno").alias("m_eno"),
        F.col("a_pts").alias("m_new"),
    )
    moves = (
        phase_a.unionByName(phase_b)
        .groupBy(F.col("pair_id").alias("m_pair"), "m_old", "m_oid", "m_eno")
        .agg(F.min("m_new").alias("m_new"))
        .filter(F.col("m_new") != F.col("m_old"))
    )
    return _apply_moves(l3, moves)


def fix_aggressor_creation_order_oracle_sql(trades_cte: str) -> str:
    """DuckDB mirror of the single declarative pass; ``trades_cte`` must
    define ``agg_trades`` with the inferred_trades output shape."""
    return f"""
WITH {trades_cte}, tsel AS (
    SELECT pair_id,
        CASE WHEN side = 'b' THEN buy_microtimestamp ELSE sell_microtimestamp END AS a_ts,
        CASE WHEN side = 'b' THEN buy_order_id ELSE sell_order_id END AS a_oid,
        CASE WHEN side = 'b' THEN buy_event_no ELSE sell_event_no END AS a_eno,
        CASE WHEN side = 'b' THEN sell_microtimestamp ELSE buy_microtimestamp END AS r_ts,
        CASE WHEN side = 'b' THEN sell_order_id ELSE buy_order_id END AS r_oid,
        CASE WHEN side = 'b' THEN sell_event_no ELSE buy_event_no END AS r_eno
    FROM agg_trades
), jj AS (
    SELECT t.*, a.price_microtimestamp AS a_pts, a.price_event_no AS a_peno,
           a.era AS a_era, a.life_no AS a_life,
           r.price_microtimestamp AS r_pts, r.price_event_no AS r_peno,
           r.era AS r_era, r.life_no AS r_life
    FROM tsel t
    JOIN level3 a ON a.pair_id = t.pair_id AND a.microtimestamp = t.a_ts
                 AND a.order_id = t.a_oid AND a.event_no = t.a_eno
    JOIN level3 r ON r.pair_id = t.pair_id AND r.microtimestamp = t.r_ts
                 AND r.order_id = t.r_oid AND r.event_no = t.r_eno
), proposed AS (
    SELECT pair_id, a_oid AS order_id, a_era AS ev_era, a_life AS ev_life,
           a_eno AS event_no,
           a_pts AS episode_ts, a_oid AS ep_oid, a_peno AS ep_eno
    FROM jj
    UNION ALL
    SELECT pair_id, r_oid, r_era, r_life, r_eno, a_pts, a_oid, a_peno FROM jj
), phase_a AS (
    SELECT pair_id, episode_ts AS m_old, ep_oid AS m_oid, ep_eno AS m_eno,
           _new AS m_new
    FROM (
        SELECT *, min(episode_ts) OVER (
            PARTITION BY pair_id, order_id, ev_era, ev_life
            ORDER BY event_no DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _new
        FROM proposed) p
    WHERE _new < episode_ts
), phase_b AS (
    SELECT pair_id, r_pts AS m_old, r_oid AS m_oid, r_peno AS m_eno,
           a_pts AS m_new
    FROM jj WHERE a_pts < r_pts
), moves AS (
    SELECT pair_id AS m_pair, m_old, m_oid, m_eno, min(m_new) AS m_new
    FROM (SELECT * FROM phase_a UNION ALL SELECT * FROM phase_b) u
    GROUP BY 1, 2, 3, 4
    HAVING min(m_new) <> m_old
)
SELECT coalesce(m.m_new, l.microtimestamp) AS microtimestamp,
       l.order_id, l.event_no, l.side, l.price, l.amount, l.fill,
       coalesce(p.m_new, l.next_microtimestamp) AS next_microtimestamp,
       l.next_event_no, l.pair_id, l.exchange_id, l.local_timestamp,
       coalesce(q.m_new, l.price_microtimestamp) AS price_microtimestamp,
       l.price_event_no, l.chain_state, l.era, l.life_no
FROM level3 l
LEFT JOIN moves m
  ON m.m_pair = l.pair_id AND m.m_old = l.microtimestamp
 AND m.m_oid = l.order_id AND m.m_eno = l.event_no
LEFT JOIN moves p
  ON p.m_pair = l.pair_id AND p.m_oid = l.order_id
 AND p.m_old = l.next_microtimestamp AND p.m_eno = l.next_event_no
LEFT JOIN moves q
  ON q.m_pair = l.pair_id AND q.m_oid = l.order_id
 AND q.m_old = l.price_microtimestamp AND q.m_eno = l.price_event_no
"""


def reveal_episodes_oracle_sql(trades_cte: str) -> str:
    """DuckDB mirror; ``trades_cte`` must define ``rev_trades`` with the
    inferred_trades output shape."""
    return f"""
WITH {trades_cte}, tsel AS (
    SELECT pair_id,
        CASE WHEN side = 'b' THEN buy_microtimestamp ELSE sell_microtimestamp END AS a_ts,
        CASE WHEN side = 'b' THEN buy_order_id ELSE sell_order_id END AS a_oid,
        CASE WHEN side = 'b' THEN buy_event_no ELSE sell_event_no END AS a_eno,
        CASE WHEN side = 'b' THEN sell_microtimestamp ELSE buy_microtimestamp END AS r_ts,
        CASE WHEN side = 'b' THEN sell_order_id ELSE buy_order_id END AS r_oid,
        CASE WHEN side = 'b' THEN sell_event_no ELSE buy_event_no END AS r_eno
    FROM rev_trades
), ag AS (
    SELECT t.*, l.price_microtimestamp AS episode_ts
    FROM tsel t JOIN level3 l
      ON l.pair_id = t.pair_id AND l.microtimestamp = t.a_ts
     AND l.order_id = t.a_oid AND l.event_no = t.a_eno
), moves AS (
    SELECT pair_id AS m_pair, m_old, m_oid, m_eno, min(episode_ts) AS m_new
    FROM (
        SELECT pair_id, a_ts AS m_old, a_oid AS m_oid, a_eno AS m_eno, episode_ts
        FROM ag
        UNION ALL
        SELECT pair_id, r_ts, r_oid, r_eno, episode_ts FROM ag
    ) u
    GROUP BY 1, 2, 3, 4
    HAVING min(episode_ts) <> m_old
)
SELECT coalesce(m.m_new, l.microtimestamp) AS microtimestamp,
       l.order_id, l.event_no, l.side, l.price, l.amount, l.fill,
       coalesce(p.m_new, l.next_microtimestamp) AS next_microtimestamp,
       l.next_event_no, l.pair_id, l.exchange_id, l.local_timestamp,
       coalesce(q.m_new, l.price_microtimestamp) AS price_microtimestamp,
       l.price_event_no, l.chain_state, l.era, l.life_no
FROM level3 l
LEFT JOIN moves m
  ON m.m_pair = l.pair_id AND m.m_old = l.microtimestamp
 AND m.m_oid = l.order_id AND m.m_eno = l.event_no
LEFT JOIN moves p
  ON p.m_pair = l.pair_id AND p.m_oid = l.order_id
 AND p.m_old = l.next_microtimestamp AND p.m_eno = l.next_event_no
LEFT JOIN moves q
  ON q.m_pair = l.pair_id AND q.m_oid = l.order_id
 AND q.m_old = l.price_microtimestamp AND q.m_eno = l.price_event_no
"""
