"""Executor-side level3 chaining: the Structured Streaming binding of the
chain machine in :mod:`obadiah_spark.streaming.ingest`.

This is the production shape of the I1+I8 ingest state machine
(``bitfinex.capture_transient_raw_book_events`` db/bitfinex_schema.sql:279-468
+ ``level3_incorporate_new_event`` db/obanalytics_schema.sql:1760-1834): the
open tails live in Structured Streaming's keyed state store, partitioned by
market-era (pair_id, exchange_id, era) — one state row per market holding
its open chains as arrays (``STATE_SCHEMA``) — and checkpointed with the
query, NEVER on the driver. Each micro-batch makes one Python call per
touched market; :func:`~obadiah_spark.streaming.ingest.chain_events` (the
kernel :class:`~obadiah_spark.streaming.ingest.Level3Ingestor` also drives)
advances every touched chain and emits UPDATE-mode row versions:

- a new event emits its level3 row with ``chain_state`` NULL (tentative —
  the reference's freshly-inserted row before any trigger revisits it),
- the predecessor is re-emitted with ``next_microtimestamp``/
  ``next_event_no`` set and ``chain_state='chained'`` (the reference's
  in-place UPDATE becomes an upsert emission),
- a same-episode amendment re-emits the tail row derived from the replayed
  message (per-episode dedup keeping the latest message, I1 :374-384).

Downstream materialization is latest-wins per (pair, exchange, era, order,
microtimestamp) using the per-chain monotone ``rev``
(:func:`~obadiah_spark.streaming.ingest.latest_wins`); era close
(:func:`finalize_open_chains`) classifies the still-open tails.

API surface: Spark 3.4's ``applyInPandasWithState``. (The Spark 4
``transformWithStateInPandas`` surface needs ``google.protobuf`` in the
python worker, absent in this container; the state model here is identical —
keyed, incremental, executor-side — so swapping the binding is mechanical.)

Ordering contract: rows WITHIN a micro-batch are sorted before folding;
ACROSS batches the kernel relies on the transport delivering
capture-ordered batches (file replay and the batch_seq-ordered capture
bronze both do). An event-time-earlier row that still arrives in a later
batch — possible only on a disordered external feed, inside the watermark
slack — is dropped with the same too-late contract the reference's
reorderer applies beyond its slack, never chained backward.
"""

from __future__ import annotations

import pandas as pd

from obadiah_spark.streaming.ingest import (  # noqa: F401 — finalize_open_chains re-exported
    OUTPUT_SCHEMA, STATE_SCHEMA, chain_events, finalize_open_chains,
    latest_wins)


def keyed_stream(events_stream):
    """SYNTH ADAPTER: the gate fabric's raw events carry only (event_id, ts),
    so order_id/pair/side/era are derived here with the same expressions as
    synth.LEVEL3_BODY_SQL's l3_keyed CTE. A real feed replaces ONLY this
    projection — its messages already carry order_id/pair/side (and
    price/amount/delete markers, consumed by advance_chain when present);
    everything downstream of this function treats them as opaque data (side
    rides in the keyed state, see STATE_SCHEMA — pytest feeds an adversarial
    side assignment to prove no formula is re-applied)."""
    from pyspark.sql import functions as F

    oid = 1 + F.col("event_id") % 240
    return events_stream.select(
        F.col("event_id"),
        F.col("ts").alias("local_timestamp"),
        F.date_trunc("minute", "ts").alias("microtimestamp"),
        oid.alias("order_id"),
        (1 + oid % 2).cast("int").alias("pair_id"),
        F.lit(1).cast("int").alias("exchange_id"),
        F.when(oid % 4 < 2, "b").otherwise("s").alias("side"),
        F.date_trunc("week", F.date_trunc("minute", "ts")).alias("era"),
    )


def chain_stream(keyed):
    """Group the keyed stream by market-era and run the stateful kernel."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return keyed.groupBy(
        "pair_id", "exchange_id", "era"
    ).applyInPandasWithState(
        chain_events, OUTPUT_SCHEMA, STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout,
    )


def _run_stream(spark, src_dir: str, schema: str, checkpoint_dir: str,
                adapter, ts_col: str, query_name: str) -> pd.DataFrame:
    """Shared driver for both chain runners: file-per-trigger stream →
    watermark → keyed adapter → stateful chain → latest-wins fold of the
    update-mode upserts."""
    from obadiah_spark.streaming.reorder import with_reorder_watermark

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    stream = with_reorder_watermark(stream, ts_col, "1 second")
    out = chain_stream(adapter(stream))
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return latest_wins(spark.table(query_name).toPandas())


def run_chain_stream(spark, events_dir: str, schema: str, checkpoint_dir: str,
                     query_name: str = "level3_chain") -> pd.DataFrame:
    """Drive a file-per-trigger stream through the executor-side chain and
    return the materialized latest-wins level3."""
    return _run_stream(spark, events_dir, schema, checkpoint_dir,
                       keyed_stream, "ts", query_name)


def payload_keyed_stream(framed_stream):
    """REAL-FEED ADAPTER: a framed capture stream already carries identity
    and payload — project it onto the chain-processor contract unchanged
    (microtimestamp = the episode instant; price/amount/is_delete are the
    authoritative payload branch of ``advance_chain``; ``side`` is whatever
    the feed adapter assigned — first-amount sign for bitfinex, the order
    enum for bitstamp — never re-derived here)."""
    from pyspark.sql import functions as F

    return framed_stream.select(
        F.col("event_id"),
        F.col("local_ts").alias("local_timestamp"),
        F.col("episode_timestamp").alias("microtimestamp"),
        F.col("order_id"),
        F.col("pair_id").cast("int").alias("pair_id"),
        F.lit(1).cast("int").alias("exchange_id"),
        F.col("side"),
        F.col("era"),
        (F.col("price") == 0).alias("is_delete"),
        F.col("price"),
        F.abs(F.col("amount")).alias("amount"),
    )


def run_payload_chain_stream(spark, framed_dir: str, schema: str,
                             checkpoint_dir: str,
                             query_name: str = "level3_payload_chain"
                             ) -> pd.DataFrame:
    """File-per-trigger payload stream → executor-side chain → latest-wins
    level3 (the real-feed twin of :func:`run_chain_stream`)."""
    return _run_stream(spark, framed_dir, schema, checkpoint_dir,
                       payload_keyed_stream, "local_ts", query_name)
