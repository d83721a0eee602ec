"""Scheduled-matching lifecycle as a Structured Streaming job (SURVEY
§3.4; the streaming embodiment of ``operators/lifecycle.py``).

The reference runs ``pga_match`` from a pgagent cron against its own link
state in Postgres (db/bitfinex_schema.sql:748-846). Spark-first, the same
loop is a ``foreachBatch`` sink on the incoming trade stream: each
micro-batch lands in a parquet trades store, then the batch driver calls
:func:`~obadiah_spark.operators.lifecycle.incremental_match` with the
links accumulated so far and appends only the NEW links — state lives in
the two parquet stores (the reference's tables), never in executor
memory, so a restart resumes exactly where the last committed batch left
off.

At-least-once replay safety (foreachBatch's contract):
- the trades store is partitioned by ``_batch_id`` and written with
  dynamic partition overwrite — a replayed batch overwrites its own
  partition instead of duplicating rows (same pattern as the capture
  sinks, streaming/capture.py);
- the links append is idempotent by construction: a replay re-runs
  ``incremental_match`` against the already-appended links, whose frame
  rule resumes past them and yields zero rows.

Each micro-batch matches everything from the resume cursor up to the
current horizon in one lazy step; the reference's p_max_interval cap
bounds a cron run's work, never its links (operators/lifecycle.py), so it
is not reproduced. The parquet-backed trades store is read, never pinned:
no micro-batch checkpoints the whole growing store (ADVICE r8). At 100 TB
the trades store is the silver matches table (time-partitioned) and the
level3 reader re-reads the growing silver log — here a caller-supplied
thunk so tests can pin a static frame.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from obadiah_spark.operators.lifecycle import DELAY_US, incremental_match


def read_links(spark, links_store: str) -> DataFrame | None:
    """The accumulated link state, or None before the first append.

    Only the missing-store case maps to None — a transient IO/read error
    must PROPAGATE, because treating it as "no links yet" would silently
    reset the resume cursor and re-append the whole history's links
    (ADVICE r8)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(links_store)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return None
        raise


class MatchJob:
    """foreachBatch body: land the micro-batch, advance the lifecycle,
    append the new links. Usable directly::

        q = (trade_stream.writeStream
             .foreachBatch(MatchJob(l3_reader, trades_store, links_store))
             .option("checkpointLocation", ckpt).start())
    """

    def __init__(self, l3_reader: Callable[..., DataFrame],
                 trades_store: str, links_store: str,
                 delay_us: int = DELAY_US,
                 max_delay_s: int = 1, lookback_s: int = 60) -> None:
        # stream-finality invariant: the delay guard is WHY matching a
        # growing store equals the one-shot batch — every frame's extended
        # window [lo − lookback − max_delay, hi + lookback + max_delay]
        # must lie wholly below the newest trade when the frame is matched,
        # so (for in-order feeds) its content is final. The reference
        # encodes the same assumption: p_delay (2 min) dwarfs the 1 s
        # match window.
        if delay_us <= (lookback_s + max_delay_s) * 1_000_000:
            raise ValueError(
                f"delay_us ({delay_us}) must exceed the matcher horizon "
                f"(lookback_s + max_delay_s = {lookback_s + max_delay_s} s) "
                f"or frames could match against not-yet-final windows")
        self.l3_reader = l3_reader
        self.trades_store = trades_store
        self.links_store = links_store
        self.delay_us = delay_us
        self.max_delay_s = max_delay_s
        self.lookback_s = lookback_s

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        (batch_df.withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(self.trades_store))
        trades = spark.read.parquet(self.trades_store).drop("_batch_id")
        existing = read_links(spark, self.links_store)
        new = incremental_match(
            self.l3_reader(spark), trades, existing_links=existing,
            delay_us=self.delay_us, max_delay_s=self.max_delay_s,
            lookback_s=self.lookback_s)
        new.write.mode("append").parquet(self.links_store)


class BitstampMatchJob:
    """foreachBatch body for the BITSTAMP ``pga_match`` sweep (reference
    db/bitstamp_schema.sql:1780-1861): land the micro-batch of
    order-id-aware trades, resume from the last matched EVENT (the
    reference's ``v_start = max(microtimestamp) where trade_id is not
    null``), run the tolerance x offset grid over the still-unmatched
    trades, append the new links.

    Resume semantics mirror the reference exactly: the sweep window starts
    at the last matched event — events and trades before it are never
    rescanned, so per-run work is bounded by the unmatched tail since the
    last match, not by history. (Consequence, same as the reference: a
    trade whose events all precede the resume cursor is never retried.)
    Claimed events from prior runs seed the exclusion set, so replaying a
    committed batch — foreachBatch's at-least-once contract — appends
    zero rows (the sweep's idempotency test).
    """

    def __init__(self, l3_reader: Callable[..., DataFrame],
                 trades_store: str, links_store: str,
                 tolerances: tuple[float, ...] | None = None,
                 max_offset: int | None = None) -> None:
        from obadiah_spark.operators.lifecycle import (
            SWEEP_MAX_OFFSET, SWEEP_TOLERANCES)

        self.l3_reader = l3_reader
        self.trades_store = trades_store
        self.links_store = links_store
        self.tolerances = tolerances or SWEEP_TOLERANCES
        self.max_offset = max_offset or SWEEP_MAX_OFFSET

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from obadiah_spark.operators.lifecycle import (
            bitstamp_match_sweep, claimed_events)

        spark = batch_df.sparkSession
        (batch_df.withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(self.trades_store))
        trades = spark.read.parquet(self.trades_store).drop("_batch_id")
        l3 = self.l3_reader(spark)
        links = read_links(spark, self.links_store)
        claimed = None
        if links is not None:
            cursor = links.agg(F.max(F.greatest(
                "buy_microtimestamp", "sell_microtimestamp"))).collect()[0][0]
            if cursor is not None:
                l3 = l3.filter(F.col("microtimestamp") >= cursor)
                trades = trades.filter(
                    F.col("trade_microtimestamp") >= cursor)
            # the already-matched-trade exclusion stays on the FULL store
            # (a matched trade's ts can sit above the cursor while its
            # events sit below — a shuffle anti-join on the tiny distinct
            # key set, not a broadcast, so history size is harmless here)
            trades = trades.join(
                links.select("pair_id", "exchange_trade_id").distinct(),
                ["pair_id", "exchange_trade_id"], "left_anti")
            # ...but the claimed-EVENT exclusion is force-broadcast into
            # two anti-joins once per sweep — seed it only with claims that
            # can still collide with the cursor-filtered event pairs (a
            # claim wholly before the cursor is never rescanned), so the
            # broadcast stays bounded by the unmatched tail instead of
            # growing O(links history) toward driver OOM (ADVICE r8)
            if cursor is not None:
                links = links.filter(F.greatest(
                    "buy_microtimestamp", "sell_microtimestamp") >= cursor)
            claimed = claimed_events(links)
        new = bitstamp_match_sweep(l3, trades, self.tolerances,
                                   self.max_offset, claimed=claimed)
        new.write.mode("append").parquet(self.links_store)
