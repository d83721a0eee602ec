"""Client-side resampling operators (SURVEY §2.4 D11/D12).

Reference parity:
- D11 ``depth.resample`` — re-grid depth to (frequency, tick): timestamps
  align UP to the frequency grid (1 µs-open ceiling, F1), bid prices align
  DOWN to the tick and asks UP (epsilon-guarded, F2); per-bucket volumes
  emitted at each grid instant that saw a change (reference Rcpp
  DepthResampler src/order_book_investigation.h:357-466; alignment helpers
  src/base.h:56-90; R wrapper R/obanalytics.R:341-361).
- D12 ``queues`` / ``get.queues`` — per-tick queue volumes: each level is
  bucketed by its integer tick distance from the OPPOSITE best price
  (bids: ceil((best_ask−price)/tick), asks: ceil((price−best_bid)/tick));
  volumes sum per bucket, capped at max_ticks (reference
  src/order_book_investigation.h:47-225 ``GetQueues``, C SRF
  db/c/obadiah_db/obadiah_db.cpp:633-731 — absolute-tick mode).

Spark-first: both derive from the level-change timeline (no snapshots, no
quadratic join). The as-of state at each grid instant is a running sum over
the unioned (changes, probes) timeline — the same trick as the linear spread
oracle, one shuffle on (pair, era, side, price).
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from obadiah_spark.fold import BucketFolder, EpisodeFolder, fold_at, period_fold
from obadiah_spark.operators.depth import (
    DEPTH_CHANGES_CTES, SPREAD_L1_CTES, grid_sample_l3)

_EPS = 1e-9


def depth_resample(l3: DataFrame, frequency_s: int = 3600, tick: float = 0.05,
                   period_s: int | None = 86400) -> DataFrame:
    """D11: bucketed book state at each frequency-grid instant with changes.

    Fold-based (the 100 TB path, same split as :func:`queues`): the book
    fold tracks which grid bucket each episode falls in and, on crossing a
    bucket boundary, emits the tick-bucketed book state AT the closing grid
    instant — only for buckets that saw a level change. The declarative
    episode×level grid survives as the oracle only
    (:func:`depth_resample_oracle_sql`): it densifies distinct grid instants
    × distinct (side, price) per era, which materializes a mostly-unchanged
    matrix at fine frequencies on a deep book.

    ``period_s`` splits each era into seeded periods (fold.period_fold) so
    parallelism is #periods, not #eras; it must be a multiple of
    ``frequency_s`` so no grid bucket spans a period boundary (then each
    bucket is emitted by exactly one period — the end-of-period flush takes
    the place of the unsplit fold's boundary-crossing emit, and the output
    is identical). ``None`` falls back to the per-era fold."""
    if period_s is not None and period_s % frequency_s != 0:
        raise ValueError("period_s must be a multiple of frequency_s")

    freq_us = frequency_s * 1_000_000

    class _ResampleFolder(EpisodeFolder):
        OUT_COLS = ("pair_id", "microtimestamp", "side", "tick_price", "volume")

        def __init__(self, meta) -> None:
            super().__init__(meta)
            self._cur_g: int | None = None
            self._bucket_changed = False

        @staticmethod
        def _grid(ts) -> int:
            us = int(np.datetime64(ts, "us").astype("int64"))
            return (us - 1) - (us - 1) % freq_us + freq_us

        def _emit_bucket(self, g_us: int) -> None:
            if not self._bucket_changed:
                return
            self._bucket_changed = False
            g_ts = np.datetime64(g_us, "us")
            buckets: dict = {}
            for (side, price), q in self.book.levels.items():
                if side == "b":
                    tp = math.floor(price / tick + _EPS) * tick
                else:
                    tp = -math.floor(-price / tick + _EPS) * tick
                k = (side, tp)
                buckets[k] = buckets.get(k, 0.0) + q
            out = self.out
            for (side, tp), vol in sorted(buckets.items()):
                out["pair_id"].append(self.pair_id)
                out["microtimestamp"].append(g_ts)
                out["side"].append(side)
                out["tick_price"].append(tp)
                out["volume"].append(vol)

        def on_episode_start(self, ts) -> None:
            g = self._grid(ts)
            if self._cur_g is not None and g != self._cur_g:
                self._emit_bucket(self._cur_g)
            self._cur_g = g

        def on_episode(self, ts) -> None:
            if self.changed_levels():
                self._bucket_changed = True

        def on_finish(self) -> None:
            if self._cur_g is not None:
                self._emit_bucket(self._cur_g)

    schema = ("pair_id int, microtimestamp timestamp, side string, "
              "tick_price double, volume double")
    folded = period_fold(l3, _ResampleFolder, schema, period_s)
    # a grid instant at an era boundary can close buckets of BOTH eras —
    # merge them (the reference grid form aggregates across eras too); tiny
    # output, map-side combinable
    return folded.groupBy("pair_id", "microtimestamp", "side", "tick_price").agg(
        F.sum("volume").alias("volume"))


def depth_resample_oracle_sql(frequency_s: int = 3600, tick: float = 0.05) -> str:
    freq_us = frequency_s * 1_000_000
    return f"""
WITH {DEPTH_CHANGES_CTES}, ch AS (
    SELECT pair_id, era, microtimestamp, side, price,
           sum(volume_change) OVER (
               PARTITION BY pair_id, era, side, price ORDER BY microtimestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS volume,
           epoch_us(microtimestamp) AS us
    FROM changes
), aligned AS (
    SELECT *, make_timestamp((us - 1) - (us - 1) % {freq_us} + {freq_us}) AS grid_ts
    FROM ch
), last_in_bucket AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY pair_id, era, side, price, grid_ts
            ORDER BY microtimestamp DESC) AS rn
        FROM aligned) t WHERE rn = 1
), probes AS (
    SELECT g.pair_id, g.era, g.grid_ts, l.side, l.price
    FROM (SELECT DISTINCT pair_id, era, grid_ts FROM aligned) g
    JOIN (SELECT DISTINCT pair_id, era, side, price FROM aligned) l
      ON l.pair_id = g.pair_id AND l.era = g.era
), timeline AS (
    SELECT pair_id, era, side, price, grid_ts, volume, 0 AS kind FROM last_in_bucket
    UNION ALL
    SELECT pair_id, era, side, price, grid_ts, NULL, 1 FROM probes
), state AS (
    SELECT pair_id, era, side, price, grid_ts,
           last_value(volume IGNORE NULLS) OVER (
               PARTITION BY pair_id, era, side, price ORDER BY grid_ts, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
           kind
    FROM timeline
)
SELECT pair_id, grid_ts AS microtimestamp, side,
       CASE WHEN side = 'b' THEN floor(price / {tick} + {_EPS}) * {tick}
            ELSE -floor(-price / {tick} + {_EPS}) * {tick}
       END AS tick_price,
       sum(v) AS volume
FROM state
WHERE kind = 1 AND v IS NOT NULL AND v > 0
GROUP BY pair_id, grid_ts, side, tick_price
"""


_QUEUES_SCHEMA = ("pair_id int, microtimestamp timestamp, side string, "
                  "tick_idx bigint, volume double")


def _queues_folder(tick: float, max_ticks: int):
    """D12's bucket folder: a level's key is its integer tick distance
    from the OPPOSITE best (bids ceil((best_ask−price)/tick), asks
    ceil((price−best_bid)/tick), epsilon-guarded), kept when in
    [1, max_ticks]."""

    class _QueuesFolder(BucketFolder):
        OUT_COLS = ("pair_id", "microtimestamp", "side", "tick_idx", "volume")
        OWN_BEST_ANCHORS = False

        @staticmethod
        def key(side: str, price: float, bb, ba):
            if side == "b":
                if ba is None:
                    return None
                idx = math.ceil((ba - price) / tick - _EPS)
            else:
                if bb is None:
                    return None
                idx = math.ceil((price - bb) / tick - _EPS)
            return (side, idx) if 1 <= idx <= max_ticks else None

        def emit(self, ts, buckets) -> None:
            out = self.out
            for (side, idx), vol in buckets:
                out["pair_id"].append(self.pair_id)
                out["microtimestamp"].append(ts)
                out["side"].append(side)
                out["tick_idx"].append(idx)
                out["volume"].append(vol)

    return _QueuesFolder


def queues_at(l3: DataFrame, at: str, tick: float = 0.05,
              max_ticks: int = 10) -> DataFrame:
    """Single-instant queue buckets — D12's folder over the book state AT
    ``at`` (closed), via :func:`obadiah_spark.fold.fold_at`. Supplies the
    range overload's starting row (level2_continuous's starting-depth
    episode, db/get_schema.sql:115-130, bucketed like any other)."""
    return fold_at(l3, _queues_folder(tick, max_ticks), _QUEUES_SCHEMA, at)


def queues(l3: DataFrame, tick: float = 0.05, max_ticks: int = 10,
           period_s: int | None = 86400,
           frequency_s: int | None = None,
           start: str | None = None, end: str | None = None) -> DataFrame:
    """D12: per change-episode queue volumes bucketed by tick distance from
    the opposite best (long format: one row per non-empty tick bucket).

    Fold-based (the 100 TB path): one shuffle on the fold keys, the book
    state supplies per-episode levels AND the opposite best in a linear
    scan — the declarative episode×level grid survives as the oracle only
    (it shuffles the grid twice and was ~20× slower at sf0.1).

    ``period_s`` splits each era into seeded periods (fold.period_fold):
    parallelism = #periods, not #eras — every output row belongs to exactly
    one episode, so the split output is identical row-for-row (the folder's
    only cross-episode state is the book + emitted map, both seeded).

    ``frequency_s`` is the reference's ``p_frequency`` output grid
    (db/get_schema.sql:623): the event log is resampled onto the
    closed-right ceiling grid (depth.grid_sample_l3) before folding, so
    queue states emit at most once per grid interval.

    ``start``/``end`` (both or neither) are p_start_time/p_end_time: a
    full bucketed snapshot AT ``start`` (:func:`queues_at`, the same
    folder class) plus change episodes in ``(start, end]`` from PRUNED period
    folding — O(range), not O(history); same boundary convention as
    depth_summary_fold."""
    if frequency_s is not None:
        l3 = grid_sample_l3(l3, frequency_s)
    folded = period_fold(l3, _queues_folder(tick, max_ticks), _QUEUES_SCHEMA,
                         period_s, start, end)
    if start is None:
        return folded
    return queues_at(l3, start, tick, max_ticks).unionByName(folded)


def queues_oracle_sql(tick: float = 0.05, max_ticks: int = 10,
                      start: str | None = None,
                      end: str | None = None) -> str:
    """With ``start``/``end``: independent range formulation (full-log
    fabric filtered + the last in-era episode at/before start re-stamped
    — same pattern as depth_summary_oracle_sql)."""
    fabric = f"""{SPREAD_L1_CTES}, l1_asof AS (
    SELECT g.pair_id, g.era, g.ts,
           last_value(l.best_bid_price IGNORE NULLS) OVER w AS bb,
           last_value(l.best_ask_price IGNORE NULLS) OVER w AS ba,
           l.ts IS NULL AS is_probe
    FROM (SELECT DISTINCT pair_id, era, ts FROM vol) g
    LEFT JOIN l1_dedup l
      ON l.pair_id = g.pair_id AND l.era = g.era AND l.ts = g.ts
    WINDOW w AS (PARTITION BY g.pair_id, g.era ORDER BY g.ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), j AS (
    SELECT v.pair_id, v.era, v.ts, v.side, v.price, v.volume, a.bb, a.ba
    FROM vol v JOIN l1_asof a
      ON a.pair_id = v.pair_id AND a.era = v.era AND a.ts = v.ts
    WHERE v.volume > 0
), fin AS (
    SELECT pair_id, era, ts, side,
           CAST(CASE WHEN side = 'b' THEN ceil((ba - price) / {tick} - {_EPS})
                     ELSE ceil((price - bb) / {tick} - {_EPS}) END AS BIGINT) AS tick_idx,
           sum(volume) AS volume
    FROM j
    WHERE CASE WHEN side = 'b' THEN ceil((ba - price) / {tick} - {_EPS})
               ELSE ceil((price - bb) / {tick} - {_EPS}) END BETWEEN 1 AND {max_ticks}
    GROUP BY pair_id, era, ts, side, tick_idx
)"""
    if start is None:
        return f"""
WITH {fabric}
SELECT pair_id, ts AS microtimestamp, side, tick_idx, volume
FROM fin
"""
    return f"""
WITH {fabric}
SELECT pair_id, ts AS microtimestamp, side, tick_idx, volume
FROM fin
WHERE ts > TIMESTAMP '{start}' AND ts <= TIMESTAMP '{end}'
UNION ALL
SELECT f.pair_id, TIMESTAMP '{start}' AS microtimestamp,
       f.side, f.tick_idx, f.volume
FROM fin f
WHERE f.era = (SELECT max(era) FROM level3 x
               WHERE x.pair_id = f.pair_id AND x.era <= TIMESTAMP '{start}')
  AND f.ts = (SELECT max(g.ts) FROM fin g
              WHERE g.pair_id = f.pair_id AND g.era = f.era
                AND g.ts <= TIMESTAMP '{start}')
"""
