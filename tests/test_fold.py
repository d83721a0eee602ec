"""Differential tests for the ordered fold (the reference's own fast-vs-slow
strategy, inst/tests/integration/test_spread.R:43-48): the Arrow fold, the
declarative Spark form, and the DuckDB oracle must agree exactly."""

from __future__ import annotations

import pytest

from obadiah_spark.fold import depth_change_fold, spread_fold
from obadiah_spark.operators.depth import (
    DEPTH_CHANGE_ORACLE_BODY,
    SPREAD_LINEAR_ORACLE_BODY,
    depth_change,
)
from obadiah_spark.operators.spread import spread_slow
from obadiah_spark.synth import level3_cte
from tools.verify_local import compare


def test_depth_fold_vs_declarative_vs_duckdb(spark, duck, level3):
    fold_pdf = depth_change_fold(level3).toPandas()
    decl_pdf = depth_change(level3).toPandas()
    duck_pdf = duck.sql(level3_cte(DEPTH_CHANGE_ORACLE_BODY)).df()
    assert len(fold_pdf) > 0
    assert not compare("depth fold-vs-decl", fold_pdf, decl_pdf)
    assert not compare("depth fold-vs-duck", fold_pdf, duck_pdf)


def test_spread_fold_vs_linear_vs_slow(spark, duck, level3):
    fold_pdf = spread_fold(level3).drop("era").toPandas()
    duck_pdf = duck.sql(level3_cte(SPREAD_LINEAR_ORACLE_BODY)).df()
    slow_pdf = spread_slow(level3).toPandas()
    assert len(fold_pdf) > 0
    assert not compare("spread fold-vs-linear", fold_pdf, duck_pdf)
    assert not compare("spread fold-vs-slow", fold_pdf, slow_pdf)


def test_period_fold_equals_unsplit(spark, level3):
    """D3 period decomposition: splitting eras into frequency periods with
    seeded books must reproduce the unsplit fold byte-for-byte (the
    reference's level2_continuous contract, obanalytics_schema.sql:1627-1661).
    6-hour periods → many periods per weekly era, so seeding is exercised."""
    from obadiah_spark.fold import (
        depth_change_fold_periods,
        spread_fold_periods,
    )

    base_spread = spread_fold(level3).toPandas()
    per_spread = spread_fold_periods(level3, frequency_s=6 * 3600).toPandas()
    assert len(base_spread) > 0
    assert not compare("spread periods-vs-unsplit", base_spread, per_spread)

    base_depth = depth_change_fold(level3).toPandas()
    per_depth = depth_change_fold_periods(level3, frequency_s=6 * 3600).toPandas()
    assert not compare("depth periods-vs-unsplit", base_depth, per_depth)


def test_period_split_equals_unsplit_for_derived_folds(spark, level3):
    """Round-4 period wiring: queues, depth_resample, trading_period and the
    depth_chains fold must produce identical output split vs unsplit (6-hour
    periods exercise seeding; resample grid 3600 divides the period)."""
    from obadiah_spark.operators.depth import depth_summary_fold
    from obadiah_spark.operators.depth_chains import depth_changes_with_chains
    from obadiah_spark.operators.resample import depth_resample, queues
    from obadiah_spark.operators.trading import trading_period_fold

    for name, fn in [
        ("queues", lambda p: queues(level3, period_s=p)),
        ("depth_resample", lambda p: depth_resample(level3, period_s=p)),
        ("trading_period", lambda p: trading_period_fold(level3, period_s=p)),
        ("depth_chains", lambda p: depth_changes_with_chains(level3, period_s=p)),
        ("depth_summary", lambda p: depth_summary_fold(level3, period_s=p)),
    ]:
        base = fn(None).toPandas()
        split = fn(6 * 3600).toPandas()
        assert len(base) > 0, name
        assert not compare(f"{name} split-vs-unsplit", base, split), name


def test_stream_fold_is_batch_size_invariant(spark, level3):
    """The fold must NOT depend on whole-group materialization: forcing tiny
    Arrow batches (so every group spans many batches and episodes split
    across batch boundaries) must produce byte-identical output."""
    default = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    base_spread = spread_fold(level3).toPandas()
    base_depth = depth_change_fold(level3).toPandas()
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "113")
        tiny_spread = spread_fold(level3).toPandas()
        tiny_depth = depth_change_fold(level3).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", default)
    assert len(base_spread) > 0 and len(base_depth) > 0
    assert not compare("spread tiny-batches", base_spread, tiny_spread)
    assert not compare("depth tiny-batches", base_depth, tiny_depth)


_SNAP_COLS = ["pair_id", "exchange_id", "order_id", "event_no",
              "microtimestamp", "side", "price", "amount",
              "price_microtimestamp", "price_event_no", "is_maker",
              "is_crossed"]
ERA_START = "2024-01-08 00:00:00"  # the synthetic eras are weekly


@pytest.fixture(scope="module")
def ckpt_6h(spark, level3, tmp_path_factory):
    """A 6 h book-checkpoint silver table with its era registry beside it
    (many boundaries per weekly era, so the probe's boundary pick is
    exercised)."""
    from obadiah_spark.fold import book_checkpoints
    from obadiah_spark.sources.silver import (
        write_checkpoints, write_era_registry)

    path = str(tmp_path_factory.mktemp("ckpt_6h") / "ckpt")
    write_checkpoints(
        book_checkpoints(level3, frequency_s=6 * 3600, use_cache=False), path)
    write_era_registry(level3, path)
    return path


def test_snapshot_from_silver_equals_full_scan(level3, ckpt_6h):
    """B1 via the checkpoint silver table must equal the full-history as-of
    snapshot at awkward instants: mid-period, exactly ON a boundary (an
    event at ts==P belongs to the state AT P), and before the era's first
    boundary (no checkpoint -> plain era scan)."""
    from obadiah_spark.operators.order_book import snapshot, snapshot_from_silver

    for at, must_have_rows in [
        ("2024-01-09 15:00:00", True),    # mid-period
        ("2024-01-09 12:00:00", True),    # exactly on a 6h boundary
        ("2024-01-08 00:30:00", False),   # before the era's first boundary
    ]:
        full = snapshot(level3, at).select(*_SNAP_COLS).toPandas()
        fast = (snapshot_from_silver(level3, ckpt_6h, at)
                .select(*_SNAP_COLS).toPandas())
        if must_have_rows:
            assert len(full) > 0, at
        assert not compare(f"snapshot@{at}", full, fast), at


@pytest.mark.parametrize("at", ["2024-01-10 15:30:00", ERA_START],
                         ids=["mid_era", "era_start"])
def test_as_of_readers_agree(spark, level3, ckpt_6h, at):
    """The three B1 readers — the window-form snapshot, the join-form
    snapshot_multi (one probe instant) and the checkpoint probe — return
    the same book, including at the instant a new era starts. There
    ``live_at(before=True)`` must read the book the instant before — the
    previous era's — while the closed book is the new era's."""
    import pandas as pd
    from pyspark.sql import functions as F

    from obadiah_spark.operators.order_book import (
        live_at, snapshot, snapshot_from_silver, snapshot_multi)

    instants = spark.createDataFrame([(at,)], "s string").select(
        F.col("s").cast("timestamp").alias("at_ts"))
    full = snapshot(level3, at).select(*_SNAP_COLS).toPandas()
    multi = snapshot_multi(level3, instants).select(*_SNAP_COLS).toPandas()
    silver = (snapshot_from_silver(level3, ckpt_6h, at)
              .select(*_SNAP_COLS).toPandas())
    if at != ERA_START:
        assert len(full) > 0
    assert not compare(f"snapshot_multi@{at}", full, multi)
    assert not compare(f"snapshot_from_silver@{at}", full, silver)
    if at == ERA_START:
        cols = ["pair_id", "exchange_id", "era", "order_id", "event_no",
                "microtimestamp"]
        before = live_at(level3, at, before=True).select(*cols).toPandas()
        prev = (live_at(level3, "2024-01-07 23:59:59.999999")
                .select(*cols).toPandas())
        closed = live_at(level3, at).select(*cols).toPandas()
        assert len(before) > 0
        assert (before["era"] < pd.Timestamp(at)).all()
        assert (closed["era"] == pd.Timestamp(at)).all()
        assert not compare("before=True @ era start", before, prev)


def test_get_depth_toggles_partition_the_output(level3):
    """p_starting_depth / p_depth_changes (get_schema.sql:239-244): the two
    halves partition the full result exactly — the R client's cache-merge
    contract."""
    from obadiah_spark.operators.depth import get_depth

    s, e = "2024-01-09 00:00:00", "2024-01-10 00:00:00"
    full = get_depth(level3, s, e).count()
    only_start = get_depth(level3, s, e, depth_changes=False).count()
    only_changes = get_depth(level3, s, e, starting_depth=False).count()
    assert only_start + only_changes == full
    assert only_start > 0 and only_changes > 0
    neither = get_depth(level3, s, e, starting_depth=False,
                        depth_changes=False)
    assert neither.count() == 0
    assert neither.columns == ["pair_id", "microtimestamp", "price",
                               "volume", "side"]


def test_range_fold_equals_filtered_full(spark, level3):
    """The (start, end] range overloads must equal the unrestricted fold
    filtered to the range, plus the starting snapshot at start — the
    pruned periods contribute nothing the full fold wouldn't."""
    import pandas as pd
    from pyspark.sql import functions as F

    from obadiah_spark.operators.depth import (
        depth_summary_at, depth_summary_fold)
    from obadiah_spark.operators.resample import queues, queues_at

    lo, hi = level3.agg(
        F.min("microtimestamp"), F.max("microtimestamp")).first()
    span = hi - lo
    start = (lo + span / 3).strftime("%Y-%m-%d %H:%M:%S")
    end = (lo + 2 * span / 3).strftime("%Y-%m-%d %H:%M:%S")

    for op, op_at in ((depth_summary_fold, depth_summary_at),
                      (queues, queues_at)):
        got = op(level3, start=start, end=end).toPandas()
        full = op(level3).filter(
            (F.col("microtimestamp") > F.lit(start).cast("timestamp"))
            & (F.col("microtimestamp") <= F.lit(end).cast("timestamp"))
        ).toPandas()
        snap = op_at(level3, start).toPandas()
        want = pd.concat([snap, full], ignore_index=True)
        cols = sorted(got.columns)
        assert sorted(want.columns) == cols
        a = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        b = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
        assert len(a) > 0, "range picked an empty window — fixture drifted"


def test_trading_period_range_equals_filtered_full(spark, level3):
    """T1 range overload at volume 0 AND at a walking volume (the
    no-oracle path): pruned range fold == full fold filtered, prepended
    with the effective-spread snapshot at start."""
    import pandas as pd
    from pyspark.sql import functions as F

    from obadiah_spark.operators.trading import (
        effective_spread_at, trading_period_fold)

    lo, hi = level3.agg(
        F.min("microtimestamp"), F.max("microtimestamp")).first()
    span = hi - lo
    start = (lo + span / 3).strftime("%Y-%m-%d %H:%M:%S")
    end = (lo + 2 * span / 3).strftime("%Y-%m-%d %H:%M:%S")

    for vol in (0.0, 2.5):
        got = trading_period_fold(level3, volume=vol,
                                  start=start, end=end).toPandas()
        full = trading_period_fold(level3, volume=vol).filter(
            (F.col("microtimestamp") > F.lit(start).cast("timestamp"))
            & (F.col("microtimestamp") <= F.lit(end).cast("timestamp"))
        ).toPandas()
        snap = effective_spread_at(level3, start, vol).toPandas()
        want = pd.concat([snap, full], ignore_index=True)
        cols = sorted(got.columns)
        a = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        b = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
        assert len(a) > 0
        # the starting row reflects the book, not a copy of a fold row:
        # at volume 0 it must carry the best bid <= best ask when both set
        s0 = snap.dropna()
        if vol == 0.0 and len(s0):
            assert (s0.bid_price <= s0.ask_price).all()


def test_range_with_frequency_combo(spark, level3):
    """start/end + frequency_s together: must equal the full grid-sampled
    fold filtered to the range, prepended with the starting snapshot over
    the SAMPLED log (the combo is defined as sample-then-range)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from obadiah_spark.operators.depth import (
        depth_summary_at, depth_summary_fold, grid_sample_l3)

    lo, hi = level3.agg(
        F.min("microtimestamp"), F.max("microtimestamp")).first()
    span = hi - lo
    start = (lo + span / 3).strftime("%Y-%m-%d %H:%M:%S")
    end = (lo + 2 * span / 3).strftime("%Y-%m-%d %H:%M:%S")
    f = 3600

    got = depth_summary_fold(level3, frequency_s=f,
                             start=start, end=end).toPandas()
    sampled = grid_sample_l3(level3, f)
    full = depth_summary_fold(level3, frequency_s=f).filter(
        (F.col("microtimestamp") > F.lit(start).cast("timestamp"))
        & (F.col("microtimestamp") <= F.lit(end).cast("timestamp"))
    ).toPandas()
    snap = depth_summary_at(sampled, start).toPandas()
    want = pd.concat([snap, full], ignore_index=True)
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    b = want[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert len(a) > 0


_STARTING_ROW_SURFACES = ["spread_at", "get_spread", "get_spread_freq",
                          "queues_range", "depth_summary_range",
                          "trading_period_range"]


@pytest.mark.parametrize("surface", _STARTING_ROW_SURFACES)
def test_starting_row_surfaces_vs_duckdb(spark, duck, level3, surface):
    """Every surface that emits a starting row at ``start`` against its
    independent DuckDB oracle (the range tests above build both sides of
    their snapshot from the same folder, so only an oracle pins the
    folder's starting arithmetic itself)."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.depth import (
        depth_summary_fold, depth_summary_oracle_sql, get_spread,
        get_spread_freq_oracle_sql, get_spread_oracle_sql, spread_at,
        spread_at_oracle_sql)
    from obadiah_spark.operators.resample import queues, queues_oracle_sql
    from obadiah_spark.operators.trading import (
        trading_period_fold, trading_period_v0_range_oracle)

    lo, hi = level3.agg(
        F.min("microtimestamp"), F.max("microtimestamp")).first()
    span = hi - lo
    start = (lo + span / 3).strftime("%Y-%m-%d %H:%M:%S")
    end = (lo + 2 * span / 3).strftime("%Y-%m-%d %H:%M:%S")

    got, oracle = {
        "spread_at": (lambda: spread_at(level3, start),
                      lambda: spread_at_oracle_sql(start)),
        "get_spread": (lambda: get_spread(level3, spread_fold(level3),
                                          start, end),
                       lambda: get_spread_oracle_sql(start, end)),
        "get_spread_freq": (
            lambda: get_spread(level3, spread_fold(level3), start, end,
                               frequency_s=300),
            lambda: get_spread_freq_oracle_sql(start, end, 300)),
        "queues_range": (lambda: queues(level3, start=start, end=end),
                         lambda: queues_oracle_sql(start=start, end=end)),
        "depth_summary_range": (
            lambda: depth_summary_fold(level3, start=start, end=end),
            lambda: depth_summary_oracle_sql(start=start, end=end)),
        "trading_period_range": (
            lambda: trading_period_fold(level3, start=start, end=end),
            lambda: trading_period_v0_range_oracle(start, end)),
    }[surface]
    spark_pdf = got().toPandas()
    duck_pdf = duck.sql(level3_cte(oracle())).df()
    assert len(spark_pdf) > 0, "range picked an empty window — fixture drifted"
    assert not compare(surface, spark_pdf, duck_pdf)


def test_range_starting_row_on_empty_book(spark):
    """A pair whose only order was deleted before ``start`` has an empty
    book there: trading_period's range overload still carries its
    prevailing (NULL, NULL) row at ``start``, while the bucket folds emit
    no starting row (an empty book has no buckets). A pair with no event
    before ``start`` has no prevailing state at all, so no fold emits a
    starting row for it. The fabric always has live orders, so the case
    is built by hand."""
    import pandas as pd

    from obadiah_spark.operators.depth import depth_summary_fold
    from obadiah_spark.operators.resample import queues
    from obadiah_spark.operators.trading import trading_period_fold

    era = "2024-01-01 00:00:00"
    start, end = "2024-01-01 01:00:00", "2024-01-01 03:00:00"
    rows = [
        # pair 1: order 1 created then deleted, both before start
        (1, 1, "2024-01-01 00:00:01", 1, "b", 100.0, 1.0, "chained",
         "2024-01-01 00:00:02", 2),
        (1, 2, "2024-01-01 00:00:02", 1, "b", 100.0, 1.0, "deleted",
         None, None),
        # pair 2: a two-sided book that opens only after start
        (2, 1, "2024-01-01 02:00:00", 2, "b", 100.0, 1.0, "alive",
         None, None),
        (2, 1, "2024-01-01 02:00:00", 3, "s", 100.25, 1.0, "alive",
         None, None),
    ]
    l3 = spark.createDataFrame(
        [(pair, 1, era, ts, oid, ev, side, price, amount, state, nxt, nev, 1)
         for pair, ev, ts, oid, side, price, amount, state, nxt, nev in rows],
        "pair_id int, exchange_id int, era string, microtimestamp string, "
        "order_id long, event_no int, side string, price double, "
        "amount double, chain_state string, next_microtimestamp string, "
        "next_event_no int, life_no int",
    ).selectExpr("pair_id", "exchange_id", "CAST(era AS TIMESTAMP) era",
                 "CAST(microtimestamp AS TIMESTAMP) microtimestamp",
                 "order_id", "event_no", "side", "price", "amount",
                 "chain_state",
                 "CAST(next_microtimestamp AS TIMESTAMP) next_microtimestamp",
                 "next_event_no", "life_no")

    def at_start(df):
        pdf = df.toPandas()
        return pdf[pdf["microtimestamp"] == pd.Timestamp(start)]

    tp = at_start(trading_period_fold(l3, start=start, end=end))
    assert tp["pair_id"].tolist() == [1]
    assert tp["bid_price"].isna().all() and tp["ask_price"].isna().all()
    for fold in (queues, depth_summary_fold):
        assert at_start(fold(l3, start=start, end=end)).empty, fold.__name__
        # pair 2's book opens inside the range, so the fold itself runs
        assert (fold(l3, start=start, end=end).toPandas()["pair_id"]
                == 2).any(), fold.__name__


def test_grid_sample_idempotent_and_boundary(spark, level3):
    """grid_sample_l3 invariants: (a) idempotent — sampling a sampled log
    changes nothing (every ts already sits on the grid, and the ceiling
    maps grid points to themselves); (b) every output instant is on the
    grid; (c) chain pointers stay consistent (next == the successor's
    sampled ts)."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.depth import grid_sample_l3

    f = 900
    s1 = grid_sample_l3(level3, f)
    s2 = grid_sample_l3(s1, f)
    diff = s1.select("microtimestamp", "next_microtimestamp").exceptAll(
        s2.select("microtimestamp", "next_microtimestamp"))
    assert diff.count() == 0
    off_grid = s1.filter(
        (F.unix_micros("microtimestamp") % (f * 1_000_000)) != 0)
    assert off_grid.count() == 0
    # pointer consistency: a chained event's next equals the ceiled ts of
    # its successor (event_no + 1 in the same life)
    a = s1.filter("chain_state = 'chained'").alias("a")
    b = s1.alias("b")
    bad = a.join(
        b,
        (F.col("a.pair_id") == F.col("b.pair_id"))
        & (F.col("a.era") == F.col("b.era"))
        & (F.col("a.order_id") == F.col("b.order_id"))
        & (F.col("a.life_no") == F.col("b.life_no"))
        & (F.col("a.event_no") + 1 == F.col("b.event_no")),
    ).filter(F.col("a.next_microtimestamp") != F.col("b.microtimestamp"))
    assert bad.count() == 0


def test_range_fold_edges(spark, level3):
    """Range-overload edge cases: a range covering all data equals the
    full fold plus the initial snapshot; a range before any data is
    empty; an empty window returns only the snapshot."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.depth import depth_summary_fold

    lo, hi = level3.agg(
        F.min("microtimestamp"), F.max("microtimestamp")).first()
    import datetime
    before = (lo - datetime.timedelta(days=30)).strftime("%Y-%m-%d %H:%M:%S")
    before2 = (lo - datetime.timedelta(days=20)).strftime("%Y-%m-%d %H:%M:%S")
    after = (hi + datetime.timedelta(days=1)).strftime("%Y-%m-%d %H:%M:%S")

    # covers everything: snapshot at `before` is empty (no events yet), so
    # the range output must equal the unrestricted fold exactly
    full = depth_summary_fold(level3)
    ranged = depth_summary_fold(level3, start=before, end=after)
    assert ranged.exceptAll(full).count() == 0
    assert full.exceptAll(ranged).count() == 0

    # entirely before the data: nothing
    assert depth_summary_fold(level3, start=before, end=before2).count() == 0

    # empty window inside the data: the starting snapshot alone
    mid = (lo + (hi - lo) / 2).strftime("%Y-%m-%d %H:%M:%S")
    snap_only = depth_summary_fold(level3, start=mid, end=mid)
    got = snap_only.select(F.min("microtimestamp"),
                           F.max("microtimestamp")).first()
    assert str(got[0]) == mid and str(got[1]) == mid
    assert snap_only.count() > 0


@pytest.mark.parametrize("fold", ["queues", "depth_summary", "trading_period"])
@pytest.mark.parametrize("bad_range", [
    {"start": "2019-01-02 00:00:00"},
    {"start": "2019-01-02 00:00:00", "end": "2019-01-03 00:00:00",
     "period_s": None},
], ids=["start_without_end", "range_without_period"])
def test_range_arguments_are_checked(level3, fold, bad_range):
    """The range overload needs both ends and a period split (the pruning
    axis); each derived fold rejects the rest before building a plan."""
    from obadiah_spark.operators.depth import depth_summary_fold
    from obadiah_spark.operators.resample import queues
    from obadiah_spark.operators.trading import trading_period_fold

    op = {"queues": queues, "depth_summary": depth_summary_fold,
          "trading_period": trading_period_fold}[fold]
    with pytest.raises(ValueError):
        op(level3, **bad_range)


def test_queues_incremental_buckets_equal_fresh_rescan(spark, level3):
    """r16: _QueuesFolder carries tick-bucket sums incrementally across
    episodes (delta-update on unchanged opposite best, per-side rebuild on
    a best move) instead of re-scanning every level per episode.  The
    incremental state must equal a fresh per-episode rescan bit-for-bit —
    guaranteed by the fabric's exact-quarter volumes (dyadic floats, no
    rounding in any add/sub order) and pinned here against a brute-force
    reference folder over the full level3 fabric (every path exercised:
    best moves, side emptying, level returning to exactly zero)."""
    import math

    from obadiah_spark.fold import EpisodeFolder, stream_fold
    from obadiah_spark.operators.resample import _EPS, queues

    tick, max_ticks = 0.05, 10

    class _FreshRescan(EpisodeFolder):
        OUT_COLS = ("pair_id", "microtimestamp", "side", "tick_idx",
                    "volume")

        def on_episode(self, ts) -> None:
            if not self.changed_levels():
                return
            bb = self.book.best("b")[0]
            ba = self.book.best("s")[0]
            buckets: dict = {}
            for (side, price), q in self.book.levels.items():
                if side == "b":
                    if ba is None:
                        continue
                    idx = math.ceil((ba - price) / tick - _EPS)
                else:
                    if bb is None:
                        continue
                    idx = math.ceil((price - bb) / tick - _EPS)
                if 1 <= idx <= max_ticks:
                    k = (side, idx)
                    buckets[k] = buckets.get(k, 0.0) + q
            out = self.out
            for (side, idx), vol in sorted(buckets.items()):
                out["pair_id"].append(self.pair_id)
                out["microtimestamp"].append(ts)
                out["side"].append(side)
                out["tick_idx"].append(idx)
                out["volume"].append(vol)

    cols = ["pair_id", "exchange_id", "era", "microtimestamp", "order_id",
            "event_no", "side", "price", "amount", "chain_state"]
    schema = ("pair_id int, microtimestamp timestamp, side string, "
              "tick_idx bigint, volume double")
    fresh = stream_fold(level3.select(*cols), _FreshRescan,
                        schema).toPandas()
    incr = queues(level3, period_s=None).toPandas()
    assert len(fresh) > 0
    assert not compare("queues incremental-vs-rescan", incr, fresh)


def test_depth_summary_incremental_buckets_equal_fresh_rescan(spark, level3):
    """r16: _DepthSummaryFolder carries bps-bucket sums incrementally
    (same pattern and exactness argument as the queues folder; here the
    bucket key depends on the SAME side's best).  Pinned against a
    brute-force per-episode rescan over the full level3 fabric."""
    import math

    from obadiah_spark.fold import EpisodeFolder, stream_fold
    from obadiah_spark.operators.depth import depth_summary_fold

    bps_step, max_bps_level, scale = 25, 500, 100

    class _FreshRescan(EpisodeFolder):
        OUT_COLS = ("pair_id", "microtimestamp", "side", "price",
                    "volume", "bps_level")

        def on_episode(self, ts) -> None:
            if not self.changed_levels():
                return
            best_bid = self.book.best("b")[0]
            best_ask = self.book.best("s")[0]
            buckets: dict = {}
            for (side, price), q in self.book.levels.items():
                if side == "s":
                    if best_ask is None:
                        continue
                    lvl = math.ceil((price - best_ask) / best_ask
                                    / bps_step * 10000) * bps_step
                    adj = math.floor(best_ask * (1 + lvl / 10000) * scale
                                     + 0.5) / scale
                else:
                    if best_bid is None:
                        continue
                    lvl = math.ceil((best_bid - price) / best_bid
                                    / bps_step * 10000) * bps_step
                    adj = math.floor(best_bid * (1 - lvl / 10000) * scale
                                     + 0.5) / scale
                if lvl > max_bps_level:
                    continue
                k = (side, adj, lvl)
                buckets[k] = buckets.get(k, 0.0) + q
            out = self.out
            for (side, adj, lvl), vol in sorted(buckets.items()):
                out["pair_id"].append(self.pair_id)
                out["microtimestamp"].append(ts)
                out["side"].append("ask" if side == "s" else "bid")
                out["price"].append(adj)
                out["volume"].append(vol)
                out["bps_level"].append(lvl)

    cols = ["pair_id", "exchange_id", "era", "microtimestamp", "order_id",
            "event_no", "side", "price", "amount", "chain_state"]
    schema = ("pair_id int, microtimestamp timestamp, side string, "
              "price double, volume double, bps_level bigint")
    fresh = stream_fold(level3.select(*cols), _FreshRescan,
                        schema).toPandas()
    incr = depth_summary_fold(level3, period_s=None).toPandas()
    assert len(fresh) > 0
    assert not compare("depth_summary incremental-vs-rescan", incr, fresh)
