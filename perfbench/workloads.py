"""The benchmark's workloads: what each sets up, the operations it times,
and how each operation's result is checked.

Every call into the library happens inside a tracer span named
``<workload>.<operation>`` (or ``setup.<step>``); the span is also the
operation's timer, so traced and untraced runs time the same interval.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import pandas as pd
import pyarrow.parquet as pq

import gen
from oracles import STRATEGY_PHI, Oracle
from spans import Tracer

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
CKPT_FREQ_S = 86400
# the closed-loop sweep input keys each inferred trade by one id packed from
# both order links, as (column, multiplier, exclusive limit)
PACK = (("buy_order_id", 2 ** 50, 2 ** 12), ("buy_event_no", 2 ** 31, 2 ** 19),
        ("sell_order_id", 2 ** 19, 2 ** 12), ("sell_event_no", 1, 2 ** 19))


@dataclass
class Op:
    """One timed operation and what its check needs."""

    kind: str
    request: int
    seconds: float = 0.0
    start: str | None = None
    end: str | None = None
    result: object = None
    problems: list = field(default_factory=list)

    @property
    def failed(self) -> bool:
        return bool(self.problems)


@dataclass
class Context:
    """Per-run state: the session, the work directory and the inputs."""

    workload: str
    work: str
    rows: int
    seed: int
    tracer: Tracer
    spark: object = None
    events_dir: str = ""
    stored_dirs: list = field(default_factory=list)
    ratios: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, op: Op, fn):
        """Run ``fn`` as ``op`` inside its span; an exception fails the op."""
        with self.tracer.span(f"{self.workload}.{op.kind}",
                              request=op.request) as s:
            try:
                op.result = fn()
            except Exception as e:  # noqa: BLE001 - counted, then reported
                op.problems.append(f"raised {type(e).__name__}: {e}")
        op.seconds = s.wall_s
        if isinstance(op.result, pd.DataFrame):
            s.rows_out = len(op.result)
        return op.result


def _derive(ctx: Context):
    """Level3 + matches synthesized from the events file, both cached."""
    from obadiah_spark.synth import register_level3

    l3 = register_level3(ctx.spark, ctx.events_dir).cache()
    l3.count()
    ctx.spark.table("matches").count()
    return l3


def _write_store(l3, silver: str, ckpt: str | None = None) -> None:
    """The silver level3 layout and the era registry; with ``ckpt``, also
    the daily book-checkpoint table the point-in-time probe reads (the
    registry then sits beside it)."""
    from obadiah_spark.fold import book_checkpoints
    from obadiah_spark.sources.silver import (
        write_checkpoints, write_era_registry, write_level3)

    write_level3(l3, silver)
    if ckpt is not None:
        write_checkpoints(
            book_checkpoints(l3, CKPT_FREQ_S, use_cache=False), ckpt)
    write_era_registry(l3, ckpt or silver)


def _setup_common(ctx: Context) -> None:
    from obadiah_spark.session import get_spark

    with ctx.tracer.span("setup.session"):
        ctx.spark = get_spark("perfbench")
    ctx.events_dir = ctx.path("input")
    gen.write_events(ctx.events_dir, ctx.rows, ctx.seed)


class Lookup:
    """Closed-loop analyst session over the silver store, one client.

    Requests come in blocks; a block holds one request of each kind in a
    seeded shuffled order, so every run issues the same number of each
    kind. Each lookup gets a seeded instant and a 1 h - 1 day window and
    is collected to the client. The two research requests, queue volumes
    and trading-strategy discovery over the mid price, fold the full
    history and write to a parquet sink.
    """

    name = "lookup"
    KINDS = ("order_book", "spread_at", "get_spread", "get_depth",
             "get_events", "get_trades", "queues", "trading_strategy")
    COLLECTED = KINDS[:6]
    RESEARCH = KINDS[6:]

    def __init__(self, rows: int):
        self.rows = rows

    def setup(self, ctx: Context) -> None:
        from obadiah_spark.fold import seed_checkpoint_cache, spread_fold
        from obadiah_spark.sources.silver import read_checkpoints, read_level3

        _setup_common(ctx)
        with ctx.tracer.span("setup.derive"):
            l3 = _derive(ctx)
        self.silver, self.ckpt = ctx.path("silver"), ctx.path("ckpt")
        ctx.stored_dirs = [self.silver, self.ckpt]
        with ctx.tracer.span("setup.persist"):
            _write_store(l3, self.silver, self.ckpt)
            l3.unpersist()  # requests read level3 back from silver
        with ctx.tracer.span("setup.seed"):
            self.l3 = read_level3(ctx.spark, self.silver)
            seed_checkpoint_cache(self.l3, CKPT_FREQ_S,
                                  read_checkpoints(ctx.spark, self.ckpt))
        self.matches = ctx.spark.table("matches")
        # the first silver scan and the first fold over it start the
        # parquet reader and the fold's Python workers; without this the
        # request that happens to come first pays for them
        with ctx.tracer.span("setup.warmup"):
            spread_fold(self.l3).count()

    def _call(self, ctx: Context, op: Op):
        from obadiah_spark.fold import spread_fold
        from obadiah_spark.operators.depth import get_depth, get_spread, spread_at
        from obadiah_spark.operators.events import get_events, get_trades
        from obadiah_spark.operators.order_book import order_book, snapshot_from_silver
        from obadiah_spark.operators.resample import queues
        from obadiah_spark.operators.trading import mid_price, trading_strategy
        from pyspark.sql import functions as F

        l3, a, b = self.l3, op.start, op.end
        if op.kind == "order_book":
            live = snapshot_from_silver(l3, self.ckpt, a, only_makers=True)
            return order_book(l3, a, live=live).toPandas()
        if op.kind == "spread_at":
            return spread_at(l3, a).toPandas()
        if op.kind == "get_spread":
            return get_spread(l3, spread_fold(l3), a, b).toPandas()
        if op.kind == "get_depth":
            return get_depth(l3, a, b).toPandas()
        if op.kind == "get_events":
            return get_events(l3, spread_fold(l3), self.matches, a, b).toPandas()
        if op.kind == "get_trades":
            return get_trades(self.matches, a, b).toPandas()
        sink = ctx.path("sink", f"{op.kind}-{op.request}")
        if op.kind == "queues":
            queues(l3).write.parquet(sink)
        else:
            mid = mid_price(spread_fold(l3))
            trading_strategy(
                mid.select("pair_id", "era", "microtimestamp",
                           F.col("price").alias("bid_price"),
                           F.col("price").alias("ask_price")),
                phi=STRATEGY_PHI).write.parquet(sink)
        return sink

    def run(self, ctx: Context, seconds: float) -> list[Op]:
        rng = random.Random(ctx.seed)
        base = datetime(2024, 1, 2)
        ops: list[Op] = []
        busy = 0.0
        while busy < seconds:
            for kind in rng.sample(self.KINDS, len(self.KINDS)):
                at = base + timedelta(seconds=rng.randrange(27 * 86400))
                end = at + timedelta(seconds=rng.randrange(3600, 86401))
                op = Op(kind, len(ops), start=str(at), end=str(end))
                ops.append(op)
                ctx.timed(op, lambda: self._call(ctx, op))
                busy += op.seconds
        return ops

    def check(self, ctx: Context, ops: list[Op], oracle: Oracle) -> None:
        ctx.ratios["setup.persist.ckpt_rows_per_l3_row"] = (
            ctx.spark.read.parquet(self.ckpt).count() / self.l3.count())
        checks = []
        for op in ops:
            if op.failed:
                continue
            if op.kind in self.COLLECTED:
                checks.append((op, op.kind, op.result))
                continue
            checks.append((op, op.kind, lambda sink=op.result:
                           ctx.spark.read.parquet(sink).toPandas()))
        # the full-history oracles are the slowest; start them first
        checks.sort(key=lambda c: c[1] not in self.RESEARCH)
        oracle.check_all(checks)


class Ingest:
    """The write path over raw events landed as mtime-ordered micro-batch
    files: stream chaining, then, on the batch-derived level3, chain
    repair, the trade-matching sweep and the silver level3 store. The
    read-side checkpoint table is built by the lookup workload's setup."""

    name = "ingest"
    MICRO_BATCHES = 2
    STEPS = ("chain", "repair", "match_sweep", "persist")

    def __init__(self, rows: int):
        self.rows = rows

    def setup(self, ctx: Context) -> None:
        import numpy as np

        _setup_common(ctx)
        landing = ctx.path("landing")
        os.makedirs(landing, exist_ok=True)
        events = pq.read_table(os.path.join(ctx.events_dir, "events.parquet"))
        t0 = time.time() - 3600
        for i, idx in enumerate(np.array_split(np.arange(events.num_rows),
                                               self.MICRO_BATCHES)):
            f = os.path.join(landing, f"batch-{i:04d}.parquet")
            pq.write_table(events.slice(int(idx[0]), len(idx)), f)
            # the file source replays in mtime order; pin it
            os.utime(f, (t0 + 10 * i,) * 2)
        self.landing = landing
        with ctx.tracer.span("setup.derive"):
            self.l3 = _derive(ctx)

    def _closed_loop_trades(self, l3):
        """Inferred trades with their event links dropped."""
        from pyspark.sql import functions as F

        from obadiah_spark.operators.matching import inferred_trades

        fits = F.lit(True)
        packed = F.lit(0).cast("bigint")
        for c, shift, limit in PACK:
            fits = fits & (F.col(c) >= 0) & (F.col(c) < limit)
            packed = packed + F.col(c).cast("bigint") * shift
        packed = F.when(fits, packed).otherwise(
            F.raise_error(F.lit("trade id packing overflow")))
        return inferred_trades(l3).select(
            "pair_id", F.date_trunc("week", "microtimestamp").alias("era"),
            packed.alias("exchange_trade_id"),
            F.col("microtimestamp").alias("trade_microtimestamp"),
            "amount", "price", F.col("side").alias("trade_type"),
            "buy_order_id", "sell_order_id")

    def _pass(self, ctx: Context, n: int, ops: list[Op]) -> None:
        from obadiah_spark.operators.lifecycle import bitstamp_match_sweep
        from obadiah_spark.operators.repair import corrupt_chains, fix_chain_integrity
        from obadiah_spark.streaming.chain import finalize_open_chains, run_chain_stream

        spark, l3 = ctx.spark, self.l3
        silver = ctx.path(f"silver-{n}")
        ctx.stored_dirs = [silver]

        def persist():
            _write_store(l3, silver)
            return silver

        steps = {
            "chain": lambda: finalize_open_chains(run_chain_stream(
                spark, self.landing, EVENTS_SCHEMA, ctx.path(f"chain-{n}"),
                query_name=f"perfbench_chain_{n}")),
            "repair": lambda: fix_chain_integrity(corrupt_chains(l3)).toPandas(),
            "match_sweep": lambda: bitstamp_match_sweep(
                l3, self._closed_loop_trades(l3)).toPandas(),
            "persist": persist,
        }
        for step in self.STEPS:
            op = Op(step, len(ops))
            ops.append(op)
            ctx.timed(op, steps[step])

    def run(self, ctx: Context, seconds: float) -> list[Op]:
        ops: list[Op] = []
        n = 0
        while sum(o.seconds for o in ops) < seconds:
            self._pass(ctx, n, ops)
            n += 1
        return ops

    def check(self, ctx: Context, ops: list[Op], oracle: Oracle) -> None:
        """Properties: the stream-chained log, the repaired log and the
        silver read-back each equal the batch level3; the sweep keeps its
        one-trade-one-event contract."""
        from tools.verify_local import compare

        from obadiah_spark.sources.silver import read_level3

        want = self.l3.toPandas()

        def check(op: Op) -> list[str]:
            if op.kind in ("chain", "repair"):
                return compare(f"{op.kind} == batch level3", op.result, want)
            if op.kind == "persist":
                return compare("silver read-back == batch level3",
                               read_level3(ctx.spark, op.result).toPandas(),
                               want)
            links, problems = op.result, []
            for key in (["pair_id", "exchange_trade_id"],
                        ["pair_id", "buy_order_id", "buy_event_no",
                         "buy_microtimestamp"],
                        ["pair_id", "sell_order_id", "sell_event_no",
                         "sell_microtimestamp"]):
                dups = int(links.duplicated(key).sum())
                if dups:
                    problems.append(f"{dups} sweep links repeat {key}")
            trades = oracle.trade_count()
            ctx.ratios["ingest.match_sweep.links_per_trade"] = (
                len(links) / trades if trades else 0.0)
            return problems

        for op in (o for o in ops if not o.failed):
            try:
                op.problems += check(op)
            except Exception as e:  # noqa: BLE001 - counted as a failure
                op.problems.append(f"check raised {type(e).__name__}: {e}")
