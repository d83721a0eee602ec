"""The one custom physical primitive: ordered stateful fold per (pair, era).

Reference parity:
- B2/B3/B5 ``order_book_by_episode`` + ``_order_book_after_episode`` — running
  book fold grouped into per-microtimestamp episodes
  (reference db/obanalytics_schema.sql:2084-2126, step fn :920-970; C episode
  iterator db/c/obadiah_db/episode.cpp:44-159; C book
  db/c/obadiah_db/order_book.cpp:22-174).
- D6 ``spread_by_episode_fast`` — level1 emitted only on change
  (reference db/c/obadiah_db/obadiah_db.cpp:270-363).
- D1 ``depth_change_by_episode_fast`` — level2 (price, side) volume changes per
  episode (reference db/obanalytics_schema.sql:1225-1230, change detection
  db/c/obadiah_db/order_book.cpp:60-88).

Spark-first design
------------------
``repartition(pair, exchange, era).sortWithinPartitions(keys + event order)``
followed by ``mapInPandas``: Spark shuffles once on the fold keys, rows arrive
as a stream of Arrow batches in event order, and a small state machine
(:class:`EpisodeFolder`) carries book state across batches. Parallelism axis =
(exchange, pair, era) — the reference's own decomposition
(``_periods_within_eras``, db/obanalytics_schema.sql:979-1005): book state
never crosses an era boundary, so eras are embarrassingly parallel.

Memory is bounded by O(open orders + price levels) per in-flight group plus
one Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch``) plus one
output chunk (``EpisodeFolder.CHUNK`` rows) — NOT by group size: a
billion-event era streams through without ever materializing.

Best-price lookup is incremental: a lazy-deletion heap per side amortizes to
O(log levels) per episode instead of a full level scan (the reference keeps
ordered maps for the same reason, db/c/obadiah_db/order_book.cpp:22-60).

Output-schema convention: the fold OUTPUT schemas carry ``pair_id`` (and
``era`` where the consumer needs it) but not ``exchange_id`` — mirroring
the reference's ``get.*`` surfaces, which take (pair, exchange) parameters
and return per-market streams without an exchange column. The folds
PROCESS per (pair, exchange, era) correctly; a caller folding a
multi-exchange frame where one pair_id trades on several exchanges must
filter the exchange upstream (or it cannot attribute same-pair rows).
The gate corpus and the reference's pair dim are single-exchange-per-pair.
"""

from __future__ import annotations

import heapq
import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from obadiah_spark.log import get_logger

FOLD_KEYS = ("pair_id", "exchange_id", "era")
EVENT_ORDER = ["microtimestamp", "order_id", "event_no"]

SPREAD_SCHEMA = (
    "pair_id int, era timestamp, microtimestamp timestamp, best_bid_price double, "
    "best_bid_qty double, best_ask_price double, best_ask_qty double"
)

DEPTH_SCHEMA = (
    "pair_id int, microtimestamp timestamp, side string, price double, "
    "volume double, volume_change double"
)

# numpy dtype per Spark type of a fold's output schema; other types stay
# Python objects for Arrow to convert
_NUMPY_DTYPES = {"int": "i4", "bigint": "i8", "long": "i8", "float": "f4",
                 "double": "f8", "boolean": "?", "timestamp": "M8[ns]"}


def schema_dtypes(schema: str) -> dict[str, object]:
    """Column → numpy dtype of a ``"name type, ..."`` schema string."""
    return {name: _NUMPY_DTYPES.get(t, object)
            for name, t in (c.split() for c in schema.split(","))}


def typed_frame(columns: dict[str, list], dtypes: dict[str, object]
                ) -> pd.DataFrame:
    """Per-column value lists as one frame of typed numpy columns — no
    per-value dtype inference. NULL (None) becomes NaN or NaT; an integer
    column holding NULL is carried as float64, as pandas infers it."""
    data = {}
    for name, vals in columns.items():
        dt = dtypes[name]
        if dt == "M8[ns]":
            vals = [None if v is pd.NaT else v for v in vals]
        elif dt in ("i4", "i8") and None in vals:
            dt = "f8"
        data[name] = np.array(vals, dt)
    return pd.DataFrame(data)


def ordered_fold(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    keys: tuple[str, ...] = FOLD_KEYS,
    order: list[str] | None = None,
) -> DataFrame:
    """Apply ``fn`` to each key group as ONE pandas frame sorted by ``order``.

    One shuffle on ``keys``; the whole group is materialized — use only for
    inputs already compressed upstream (e.g. the emit-on-change level1 stream
    consumed by position/draw discovery). Event-scale inputs must go through
    :func:`stream_fold` instead.
    """
    order_cols = EVENT_ORDER if order is None else order

    def runner(pdf: pd.DataFrame) -> pd.DataFrame:
        return fn(pdf.sort_values(order_cols, kind="mergesort"))

    return df.groupBy(*keys).applyInPandas(runner, schema)


def group_starts(kf: pd.DataFrame) -> np.ndarray:
    """First row of every run of equal keys in a key-sorted frame."""
    change = (kf != kf.shift()).any(axis=1).to_numpy()
    change[0] = True
    return np.flatnonzero(change)


def stream_fold(
    df: DataFrame,
    make_folder: Callable[[pd.Series], "EpisodeFolder"],
    schema: str,
    keys: tuple[str, ...] = FOLD_KEYS,
    order: list[str] | None = None,
) -> DataFrame:
    """The scale path: shuffle once on ``keys``, sort within partitions, then
    stream Arrow batches through per-group folder state machines.

    Group boundaries are detected inside the batch stream (a group may span
    many batches; a batch may contain many groups); each folder sees its rows
    in exact ``order`` and never more than one batch at a time.
    """
    key_cols = list(keys)
    order_cols = key_cols + (EVENT_ORDER if order is None else list(order))
    dtypes = schema_dtypes(schema)

    def chunks(batches: Iterator[pd.DataFrame]) -> Iterator[dict[str, list]]:
        cur_key = None
        folder: EpisodeFolder | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            kf = pdf[key_cols]
            starts = group_starts(kf)
            bounds = np.append(starts, len(pdf))
            for k in range(len(starts)):
                s, e = int(starts[k]), int(bounds[k + 1])
                key = tuple(kf.iloc[s])
                if key != cur_key:
                    if folder is not None:
                        yield from folder.finish()
                    folder = make_folder(pdf.iloc[s])
                    cur_key = key
                yield from folder.feed(pdf.iloc[s:e])
        if folder is not None:
            yield from folder.finish()

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for cols in chunks(batches):
            yield typed_frame(cols, dtypes)

    return (
        df.repartition(*key_cols)
        .sortWithinPartitions(*order_cols)
        .mapInPandas(runner, schema)
    )


class _Events:
    """Columnar view of one sorted slice: numpy arrays + episode slicing.

    Iterating episodes as pandas sub-frames costs ~1 ms *per episode* in
    frame construction; at one episode per book tick that dominates the whole
    fold. Numpy boundary detection + index ranges is ~100× cheaper.
    """

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.ts = pdf["microtimestamp"].to_numpy()
        self.order_id = pdf["order_id"].to_numpy()
        self.side = pdf["side"].to_numpy()
        self.price = pdf["price"].to_numpy()
        self.amount = pdf["amount"].to_numpy()
        self.deleted = (pdf["chain_state"] == "deleted").to_numpy()
        self.seed = (pdf["chain_state"] == "seed").to_numpy()

    def episodes(self) -> Iterator[tuple[object, int, int]]:
        """Yield (ts, start, end) per microtimestamp episode (B5 semantics:
        all events sharing one microtimestamp are applied atomically)."""
        n = len(self.ts)
        if n == 0:
            return
        starts = np.flatnonzero(np.concatenate(([True], self.ts[1:] != self.ts[:-1])))
        bounds = np.append(starts, n)
        for k in range(len(starts)):
            yield self.ts[starts[k]], int(bounds[k]), int(bounds[k + 1])


class _Book:
    """In-memory book for one (pair, exchange, era): order dict + per-(side,
    price) level sums, mirroring the reference's order_book_side structure
    (hash by order_id + price-keyed aggregation,
    db/c/obadiah_db/order_book.cpp:22-174). Exact-quarter/cent arithmetic on
    the synthetic data keeps level sums bit-exact; ``_ZERO_TOL`` guards float
    residue on general data.

    ``best()`` is amortized O(log levels) via a lazy-deletion heap per side:
    prices are pushed when a level first appears; stale heads (level since
    emptied) are popped on lookup. The heap is compacted whenever it exceeds
    4× the live level count, so heap memory stays O(levels) even under
    adversarial churn."""

    _ZERO_TOL = 1e-12

    def __init__(self) -> None:
        self.orders: dict[int, tuple[str, float, float]] = {}
        self.levels: dict[tuple[str, float], float] = {}
        self.touched: set[tuple[str, float]] = set()
        self._heaps: dict[str, list[float]] = {"b": [], "s": []}
        self._nlev = {"b": 0, "s": 0}

    def _level_add(self, side: str, price: float, dq: float) -> None:
        key = (side, price)
        cur = self.levels.get(key)
        created = cur is None
        q = (0.0 if created else cur) + dq
        if abs(q) <= self._ZERO_TOL:
            if not created:
                del self.levels[key]
                self._nlev[side] -= 1
        else:
            self.levels[key] = q
            if created:
                self._nlev[side] += 1
                h = self._heaps[side]
                heapq.heappush(h, -price if side == "b" else price)
                if len(h) > 4 * self._nlev[side] + 64:
                    self._compact(side)
        self.touched.add(key)

    def _compact(self, side: str) -> None:
        h = [(-p if side == "b" else p) for (s, p) in self.levels if s == side]
        heapq.heapify(h)
        self._heaps[side] = h

    def apply(self, order_id: int, side: str, price: float, amount: float, deleted: bool) -> None:
        prev = self.orders.pop(order_id, None)
        if prev is not None:
            self._level_add(prev[0], prev[1], -prev[2])
        if not deleted:
            self.orders[order_id] = (side, price, amount)
            self._level_add(side, price, amount)

    def best(self, side: str) -> tuple[float | None, float | None]:
        h = self._heaps[side]
        while h:
            p = -h[0] if side == "b" else h[0]
            q = self.levels.get((side, p))
            if q is not None:
                return p, q
            heapq.heappop(h)
        return None, None

    def take_touched(self) -> list[tuple[str, float]]:
        t = sorted(self.touched)
        self.touched.clear()
        return t


class EpisodeFolder:
    """Streaming per-group fold: events are applied to the book as they
    arrive; :meth:`on_episode` fires once per completed microtimestamp
    episode (deferred until the next episode begins or the group ends, so an
    episode split across Arrow batches is still applied atomically).

    Subclasses override ``OUT_COLS``, :meth:`on_episode`, and optionally
    :meth:`on_episode_start` (book state BEFORE the episode's events — used
    by folds that need the prevailing pre-episode spread).
    """

    OUT_COLS: tuple[str, ...] = ()
    CHUNK = 1 << 16  # output rows buffered before an Arrow batch is emitted

    def __init__(self, meta: pd.Series) -> None:
        self.book = _Book()
        self.pair_id = int(meta["pair_id"])
        self.era = meta["era"]
        self.emitted: dict = {}
        self.out: dict[str, list] = {c: [] for c in self.OUT_COLS}
        self._cur_ts = None
        self._cur_is_seed = False

    # hooks ---------------------------------------------------------------
    def on_episode(self, ts) -> None:
        raise NotImplementedError

    def on_episode_start(self, ts) -> None:
        """Called before a new episode's events are applied (book state =
        end of the previous episode); ``ts`` is the NEW episode's
        timestamp — folds that bucket the timeline use it to close out the
        previous bucket."""

    def on_seed(self) -> None:
        """Called instead of :meth:`on_episode` when the closing episode was
        a SEED episode (chain_state='seed' rows injected by the period
        decomposition): the book now equals the end-of-previous-period
        state; absorb it into change-tracking state without emitting."""
        self.changed_levels()

    def on_finish(self) -> None:
        """Called after the final episode's on_episode, before the last
        output chunk is taken."""

    # engine --------------------------------------------------------------
    def _close_episode(self) -> None:
        if self._cur_is_seed:
            self.on_seed()
        else:
            self.on_episode(self._cur_ts)

    def feed(self, pdf: pd.DataFrame) -> Iterator[dict[str, list]]:
        ev = _Events(pdf)
        apply_ = self.book.apply
        first_col = self.OUT_COLS[0]
        for ts, s, e in ev.episodes():
            if ts != self._cur_ts:
                if self._cur_ts is not None:
                    self._close_episode()
                    if len(self.out[first_col]) >= self.CHUNK:
                        yield self._take()
                self.on_episode_start(ts)
                self._cur_ts = ts
                self._cur_is_seed = bool(ev.seed[s])
            for i in range(s, e):
                apply_(ev.order_id[i], ev.side[i], ev.price[i],
                       ev.amount[i], ev.deleted[i])

    def finish(self) -> Iterator[dict[str, list]]:
        if self._cur_ts is not None:
            self._close_episode()
            self._cur_ts = None
        self.on_finish()
        if len(self.out[self.OUT_COLS[0]]):
            yield self._take()

    def _take(self) -> dict[str, list]:
        out = self.out
        self.out = {c: [] for c in self.OUT_COLS}
        return out

    # shared helper: sync self.emitted with touched levels ---------------
    def changed_levels(self) -> list[tuple[tuple[str, float], float, float]]:
        """(key, new_volume, old_volume) for levels whose emitted volume
        actually changed this episode; updates the emitted map."""
        res = []
        lv = self.book.levels
        em = self.emitted
        for key in self.book.take_touched():
            vol = lv.get(key, 0.0)
            prev = em.get(key, 0.0)
            if vol != prev:
                res.append((key, vol, prev))
                if vol == 0.0:
                    em.pop(key, None)
                else:
                    em[key] = vol
        return res


class _SpreadFolder(EpisodeFolder):
    """D6: emit level1 (best bid/ask price+qty) only when it changes."""

    OUT_COLS = ("pair_id", "era", "microtimestamp", "best_bid_price",
                "best_bid_qty", "best_ask_price", "best_ask_qty")

    def __init__(self, meta: pd.Series) -> None:
        super().__init__(meta)
        self._prev = None

    def on_seed(self) -> None:
        bb, bbq = self.book.best("b")
        ba, baq = self.book.best("s")
        self._prev = (bb, bbq, ba, baq)

    def on_episode(self, ts) -> None:
        # drain the change-tracking set even though level1 doesn't read
        # it: left to grow, it retains every (side, price) ever seen for
        # the group's lifetime, breaking the module's O(open orders +
        # price levels) memory bound on year-long eras
        self.book.touched.clear()
        bb, bbq = self.book.best("b")
        ba, baq = self.book.best("s")
        cur = (bb, bbq, ba, baq)
        # a still-empty book emits nothing (a no-op leading episode is not a
        # level1 change; the declarative forms have no such timestamp either)
        if self._prev is None and cur == (None, None, None, None):
            return
        if cur != self._prev:
            o = self.out
            o["pair_id"].append(self.pair_id)
            o["era"].append(self.era)
            o["microtimestamp"].append(ts)
            o["best_bid_price"].append(bb)
            o["best_bid_qty"].append(bbq)
            o["best_ask_price"].append(ba)
            o["best_ask_qty"].append(baq)
            self._prev = cur


class _DepthFolder(EpisodeFolder):
    """D1: per-episode (price, side) volume + change, only for levels whose
    volume actually changed (skips no-change episodes entirely)."""

    OUT_COLS = ("pair_id", "microtimestamp", "side", "price",
                "volume", "volume_change")

    def on_episode(self, ts) -> None:
        o = self.out
        for key, vol, prev in self.changed_levels():
            o["pair_id"].append(self.pair_id)
            o["microtimestamp"].append(ts)
            o["side"].append(key[0])
            o["price"].append(key[1])
            o["volume"].append(vol)
            o["volume_change"].append(vol - prev)


class BucketFolder(EpisodeFolder):
    """Bucketed depth snapshot per level-changing episode, with the bucket
    sums carried across episodes instead of rescanning every level (the
    queues and depth_summary folds).

    A subclass supplies :meth:`key` — the bucket of one level, a tuple
    whose first element is the side, or ``None`` outside the range — and
    :meth:`emit`, called once per emitting episode with the sorted
    ``(key, volume)`` snapshot. ``OWN_BEST_ANCHORS`` says which best a
    side's keys depend on: its own (depth_summary's bps distance) or the
    opposite side's (queues' tick distance).

    While a side's anchor best is unchanged, only the episode's changed
    levels adjust their buckets (O(changed)); an anchor move rebuilds that
    side from the book (best moves are themselves level changes, so the
    rebuild is the rare path). Bit-identical to a fresh per-episode rescan
    by exactness, not luck: level volumes are sums of the fabric's
    exact-quarter amounts (dyadic rationals far below 2^52), so float
    add/sub never rounds and incremental totals equal fresh sums in any
    order; a bucket reaching exactly 0.0 is dropped, matching a fresh
    scan's absence. The seed episode of a period fold is absorbed into the
    bucket state without emitting."""

    OWN_BEST_ANCHORS: bool

    def __init__(self, meta: pd.Series) -> None:
        super().__init__(meta)
        self._anchors: dict[str, float | None] = {"b": None, "s": None}
        self._buckets: dict[tuple, float] = {}

    def key(self, side: str, price: float, bb: float | None,
            ba: float | None) -> tuple | None:
        raise NotImplementedError

    def emit(self, ts, buckets: list[tuple[tuple, float]]) -> None:
        raise NotImplementedError

    def _apply(self, changed) -> None:
        bb = self.book.best("b")[0]
        ba = self.book.best("s")[0]
        b = self._buckets
        key_ = self.key
        own = self.OWN_BEST_ANCHORS
        for side, anchor in (("b", bb if own else ba), ("s", ba if own else bb)):
            if anchor != self._anchors[side]:
                # the anchor moved: rebuild this side from the book
                self._anchors[side] = anchor
                for k in [k for k in b if k[0] == side]:
                    del b[k]
                for (s, price), q in self.book.levels.items():
                    if s != side:
                        continue
                    k = key_(s, price, bb, ba)
                    if k is not None:
                        b[k] = b.get(k, 0.0) + q
                continue
            for (s, price), vol, prev in changed:
                if s != side:
                    continue
                k = key_(s, price, bb, ba)
                if k is None:
                    continue
                q = b.get(k, 0.0) + (vol - prev)
                if q == 0.0:
                    b.pop(k, None)
                else:
                    b[k] = q

    def on_seed(self) -> None:
        self._apply(self.changed_levels())

    def on_episode(self, ts) -> None:
        changed = self.changed_levels()
        if changed:
            self._apply(changed)
            self.emit(ts, sorted(self._buckets.items()))


_EVENT_COLS = [
    "pair_id", "exchange_id", "era",
    "microtimestamp", "order_id", "event_no", "side", "price", "amount", "chain_state",
]


def spread_fold(l3: DataFrame) -> DataFrame:
    """The 100 TB level1 path: one shuffle on (pair, exchange, era), linear
    streaming scan, output compressed by emit-on-change (10-100× smaller)."""
    return stream_fold(l3.select(*_EVENT_COLS), _SpreadFolder, SPREAD_SCHEMA)


def depth_change_fold(l3: DataFrame) -> DataFrame:
    """The 100 TB level2 path (D1)."""
    return stream_fold(l3.select(*_EVENT_COLS), _DepthFolder, DEPTH_SCHEMA)


def fold_at(l3: DataFrame, folder: type[EpisodeFolder], schema: str,
            at: str) -> DataFrame:
    """``folder``'s output for the book state AT ``at`` (closed): the live
    set (:func:`~obadiah_spark.operators.order_book.live_at`) re-stamped to
    ``at`` is one episode per (pair, exchange, era), so the folder's first
    emission is the starting row of a range overload — the reference's
    ``level2_continuous(p_start_time, ...)`` starting depth, bucketed like
    any other episode (db/get_schema.sql:115-130). A pair whose book is
    empty at ``at`` has no live event, hence no episode and no row."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.order_book import live_at

    live = live_at(l3, at).withColumn(
        "microtimestamp", F.lit(at).cast("timestamp"))
    return stream_fold(live.select(*_EVENT_COLS), folder, schema)


# ----------------------------------------------- period decomposition (D3) --

def _period_start(ts, freq_us: int):
    """Grid point strictly below ts (open on exact boundaries, F1
    date_floor(ts − 1µs) — an event exactly on the grid belongs to the
    period ENDING there)."""
    from pyspark.sql import functions as F

    us = F.unix_micros(ts) - 1
    return F.timestamp_micros((us - us % F.lit(freq_us)).cast("long"))


# (session object, input semanticHash, frequency) -> (input frame, input
# file stamps, checkpoints). Keyed by the LIVE session object (not id(),
# which a dead session's reuse could collide with); a hit needs an exact
# plan match (sameSemantics; the 32-bit semanticHash is only a bucket) AND
# unchanged (path, size, mtime) of every input file, because a table
# rewritten in place reads back plan-equal. Spark's CacheManager serves a
# .cache()d plan to ANY plan-equal query, use_cache=False derivations
# included, so a mismatched entry is unpersisted before anything is
# derived again. The table is tiny (boundaries × open chains); .cache()
# makes the period-fold consumers derive it once per session instead of
# once each. Bounded LRU: past 32 entries the oldest is unpersisted and
# dropped (dict preserves insertion order).
_CKPT_CACHE: dict[tuple, tuple[DataFrame, tuple, DataFrame]] = {}
_CKPT_CACHE_MAX = 32
_log = get_logger("fold")


def _input_stamps(df: DataFrame) -> tuple:
    """(path, size, mtime) of every file the plan reads, sorted (empty for
    a cached or in-memory frame, whose plan is its own identity)."""
    from urllib.parse import unquote, urlparse

    stamps = []
    for f in sorted(df.inputFiles()):
        u = urlparse(f)
        if u.scheme in ("", "file"):
            try:
                st = os.stat(unquote(u.path))
                stamps.append((f, st.st_size, st.st_mtime_ns))
            except OSError:
                stamps.append((f, -1, -1))
        else:
            jvm = df.sparkSession._jvm
            jp = jvm.org.apache.hadoop.fs.Path(f)
            st = jp.getFileSystem(
                df.sparkSession._jsc.hadoopConfiguration()).getFileStatus(jp)
            stamps.append((f, st.getLen(), st.getModificationTime()))
    return tuple(stamps)


def _ckpt_cache_evict(key: tuple, why: str) -> None:
    old = _CKPT_CACHE.pop(key)[2]
    try:
        old.unpersist()
    except Exception:
        pass  # session may be stopped; eviction must not raise
    _log.debug("checkpoint cache evict (%s): frequency_s=%s", why, key[2])


def _ckpt_cache_put(key: tuple, entry: tuple[DataFrame, tuple, DataFrame]
                    ) -> None:
    if key in _CKPT_CACHE:
        _ckpt_cache_evict(key, "replaced")
    while len(_CKPT_CACHE) >= _CKPT_CACHE_MAX:
        _ckpt_cache_evict(next(iter(_CKPT_CACHE)), "lru")
    _CKPT_CACHE[key] = entry


def seed_checkpoint_cache(l3: DataFrame, frequency_s: int,
                          ckpts: DataFrame) -> None:
    """Install a pre-materialized checkpoint table (e.g. the silver parquet
    written by :func:`obadiah_spark.sources.silver.write_checkpoints`) so
    that every later ``book_checkpoints(l3, frequency_s)`` call — including
    the ones inside :func:`period_fold` consumers — reads it instead of
    re-deriving from the full log, until ``l3``'s input files change.
    ``ckpts`` must be row-identical to
    ``book_checkpoints(l3, frequency_s, use_cache=False)`` (the silver
    round-trip pytest enforces this)."""
    key = (l3.sparkSession, l3.semanticHash(), frequency_s)
    _ckpt_cache_put(key, (l3, _input_stamps(l3), ckpts))


def book_checkpoints(l3: DataFrame, frequency_s: int = 86400,
                     use_cache: bool = True) -> DataFrame:
    """Open-order book state at every frequency-aligned boundary, one row
    per (boundary, open chain), carrying the chain's last event WITH its
    original identity (microtimestamp, event_no, price chain, pointers).

    This is the engine's materializable "book state at era/month start"
    silver table (SURVEY §4.2.3; the reference's Q6 boundary clones and
    ``order_book()`` seeds play the same role): period_fold seeds its
    periods from it, and, written to silver, it lets
    :func:`~obadiah_spark.operators.order_book.snapshot_from_silver`
    answer point-in-time queries by reading ONE boundary's rows plus the
    (boundary, ts] event tail instead of the era's whole history — the
    difference between a partition-pruned probe and a full-era scan at
    100 TB.

    ``use_cache`` serves and keeps the result in the session's checkpoint
    cache; a hit needs a plan-equal input whose files are unchanged. With
    ``use_cache=False`` the rows are derived from ``l3`` as it is now: an
    entry that no longer matches is dropped first, so Spark's cache cannot
    answer the derivation with rows of the files' previous version.

    Derivation is declarative: one window carries each chain's last event
    onto boundary probes (probes sort AFTER events at the exact boundary, so
    an event at ts == P belongs to the state AT P); chains conclusively dead
    before the boundary are pruned first.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    l3_orig = l3
    key = (l3.sparkSession, l3.semanticHash(), frequency_s)
    stamps = _input_stamps(l3)
    hit = _CKPT_CACHE.get(key)
    if hit is not None:
        if not (hit[1] == stamps and l3.sameSemantics(hit[0])):
            _ckpt_cache_evict(key, "stale")
        elif use_cache:
            # true LRU: a hit refreshes recency, so a hot entry (e.g. the
            # seeded silver table every period_fold consumer reads) cannot
            # be evicted by a burst of cold derived-frame inserts
            _CKPT_CACHE[key] = _CKPT_CACHE.pop(key)
            _log.debug("checkpoint cache hit: frequency_s=%s", frequency_s)
            return hit[2]

    # tolerate event-projection inputs (the documented fold contract): the
    # pointer/price columns are only needed by snapshot consumers; seeds
    # read (side, price, amount, chain_state), so missing ones become NULLs
    for c, t in (("next_microtimestamp", "timestamp"), ("next_event_no", "int"),
                 ("price_microtimestamp", "timestamp"), ("price_event_no", "int"),
                 ("life_no", "int")):
        if c not in l3.columns:
            l3 = l3.withColumn(c, F.lit(None).cast(t))

    freq_us = frequency_s * 1_000_000
    full_cols = _EVENT_COLS + ["next_microtimestamp", "next_event_no",
                               "price_microtimestamp", "price_event_no",
                               "life_no"]
    ev = l3.select(*full_cols).withColumn(
        "period_start", _period_start(F.col("microtimestamp"), freq_us))

    okeys = ["pair_id", "exchange_id", "era", "order_id"]
    carried = ["microtimestamp", "event_no", "side", "price", "amount",
               "chain_state", "next_microtimestamp", "next_event_no",
               "price_microtimestamp", "price_event_no", "life_no"]
    st_type = ("struct<microtimestamp:timestamp,event_no:int,side:string,"
               "price:double,amount:double,chain_state:string,"
               "next_microtimestamp:timestamp,next_event_no:int,"
               "price_microtimestamp:timestamp,price_event_no:int,"
               "life_no:int>")

    # prune probes to chains alive at the boundary: first event at or before
    # it, and not conclusively dead before it (reincarnated chains keep their
    # probe; the carried state filters the dead interval out exactly)
    life = ev.groupBy(*okeys).agg(
        F.min("microtimestamp").alias("first_ts"),
        F.max("microtimestamp").alias("last_ts"),
        F.max_by(F.col("chain_state") == "deleted",
                 F.struct("microtimestamp", "event_no")).alias("ends_deleted"),
    )
    periods = ev.select("pair_id", "exchange_id", "era", "period_start").distinct()
    probes = (
        periods.join(life, ["pair_id", "exchange_id", "era"])
        .filter((F.col("first_ts") <= F.col("period_start"))
                & (~F.col("ends_deleted")
                   | (F.col("last_ts") > F.col("period_start"))))
    )
    w_carry = (
        W.partitionBy(*okeys)
        .orderBy("ts", "_kind", "event_no")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    timeline = ev.select(
        *okeys, F.col("microtimestamp").alias("ts"), F.lit(0).alias("_kind"),
        "event_no", F.struct(*carried).alias("st"),
        F.lit(None).cast("timestamp").alias("p_start"),
    ).unionByName(probes.select(
        *okeys, F.col("period_start").alias("ts"), F.lit(1).alias("_kind"),
        F.lit(0).alias("event_no"), F.lit(None).cast(st_type).alias("st"),
        F.col("period_start").alias("p_start"),
    ))
    out = (
        timeline.withColumn("c", F.last("st", ignorenulls=True).over(w_carry))
        .filter((F.col("_kind") == 1) & F.col("c").isNotNull()
                & (F.col("c.chain_state") != "deleted"))
        .select("pair_id", "exchange_id", "era", "order_id",
                F.col("p_start").alias("period_start"),
                *[F.col(f"c.{c}").alias(c) for c in carried])
    )
    if use_cache:
        _log.debug("checkpoint cache miss: frequency_s=%s", frequency_s)
        out = out.cache()
        _ckpt_cache_put(key, (l3_orig, stamps, out))
    return out


def period_fold(l3: DataFrame, folder: type[EpisodeFolder], schema: str,
                frequency_s: int | None = 86400, start: str | None = None,
                end: str | None = None) -> DataFrame:
    """The reference's answer to "one giant era serializes the fold"
    (``_periods_within_eras`` + seeded restart, db/obanalytics_schema.sql:
    979-1005, level2_continuous :1627-1661): split each era into
    frequency-aligned periods, seed each period's book with the
    end-of-previous-period level state, and fold every (era, period)
    INDEPENDENTLY — parallelism becomes #periods, not #eras.

    Seeds must be PER-ORDER, not per-level: the book is order-granular, so an
    amend/delete of a pre-boundary order must find that order's old amount in
    the seeded book (a level-aggregate pseudo-order would double-count on the
    first later amend — the reference seeds from ``order_book()`` snapshots,
    which are per-order, for the same reason). Open-order state at each
    boundary comes from :func:`book_checkpoints` and is injected as
    ``chain_state='seed'`` events with the REAL order_ids at the
    period-start instant; the folder absorbs the seed episode into its book
    and change-tracking state without emitting, so the output is IDENTICAL
    to the unsplit fold (the equality is pytest-enforced).

    ``start``/``end`` restrict the fold to the instants in ``(start, end]``
    — the p_start_time/p_end_time half of every reference ``get.*``
    signature. Because every period is independently seeded with
    full-history state, the restriction is pure PRUNING: only periods that
    can emit in-range instants are folded (events outside them never
    shuffle), and the output equals the unrestricted fold filtered to the
    range — cost O(range + one period tail), not O(history). The schema's
    ``microtimestamp`` column is the filter axis; ``start`` and ``end`` come
    together.

    ``frequency_s=None`` is the unsplit per-era fold (no seeds, no range)."""
    from pyspark.sql import functions as F

    if (start is None) != (end is None):
        raise ValueError("start and end come together")
    if frequency_s is None:
        if start is not None:
            raise ValueError("the range overload requires period_s (the "
                             "pruning axis)")
        return stream_fold(l3.select(*_EVENT_COLS), folder, schema)
    freq_us = frequency_s * 1_000_000
    ev = l3.select(*_EVENT_COLS).withColumn(
        "period_start", _period_start(F.col("microtimestamp"), freq_us))
    seed_events = book_checkpoints(l3, frequency_s).select(
        "pair_id", "exchange_id", "era",
        F.col("period_start").alias("microtimestamp"),
        "order_id", F.lit(0).alias("event_no"),
        "side", "price", "amount",
        F.lit("seed").alias("chain_state"),
        "period_start",
    )
    if start is not None:
        # first period able to emit an instant > start begins at
        # floor(start) — its seed carries the state AT start (checkpoint
        # boundaries include boundary-instant events), so earlier periods
        # are irrelevant
        lo_us = F.unix_micros(F.lit(start).cast("timestamp"))
        lo_p = F.timestamp_micros((lo_us - lo_us % F.lit(freq_us)).cast("long"))
        ev = ev.filter(F.col("period_start") >= lo_p)
        seed_events = seed_events.filter(F.col("period_start") >= lo_p)
    if end is not None:
        end_c = F.lit(end).cast("timestamp")
        # events after end cannot affect any in-range instant (folds are
        # causal); a period starting at/after end emits past it entirely
        ev = ev.filter(F.col("microtimestamp") <= end_c)
        seed_events = seed_events.filter(F.col("period_start") < end_c)
    unioned = ev.unionByName(seed_events.select(*_EVENT_COLS, "period_start"))
    out = stream_fold(
        unioned, folder, schema,
        keys=("pair_id", "exchange_id", "era", "period_start"),
    )
    if start is not None:
        out = out.filter(
            F.col("microtimestamp") > F.lit(start).cast("timestamp"))
    if end is not None:
        out = out.filter(
            F.col("microtimestamp") <= F.lit(end).cast("timestamp"))
    return out


def spread_fold_periods(l3: DataFrame, frequency_s: int = 86400,
                        start: str | None = None,
                        end: str | None = None) -> DataFrame:
    """D3/D8: period-parallel level1 — identical output to spread_fold.
    ``start``/``end`` apply the pruned-range restriction (see period_fold)."""
    return period_fold(l3, _SpreadFolder, SPREAD_SCHEMA, frequency_s,
                       start=start, end=end)


def depth_change_fold_periods(l3: DataFrame, frequency_s: int = 86400) -> DataFrame:
    """D3: period-parallel level2 — identical output to depth_change_fold."""
    return period_fold(l3, _DepthFolder, DEPTH_SCHEMA, frequency_s)
