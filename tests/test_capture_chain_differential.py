"""Streaming ≡ batch differential for the REAL I1 payload path: the framed
bitfinex fabric (signed amounts, price==0 deletes) driven message-by-message
through the incremental chain state machine (`advance_chain` with payload
columns — the executor-side processor's exact code path) must reproduce the
batch window program `capture_raw_book_events` row for row.

This is the differential the synth path already has (test_streaming.py),
extended to the real-payload branch that a production feed exercises:
per-episode dedup, side as data, reincarnation lives, carried delete
payloads, price chains."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from obadiah_spark.streaming.ingest import Level3Ingestor


class _RawIngestor(Level3Ingestor):
    """Payload-path ingestor: rows arrive already keyed (no synth adapter)
    and open tails simply rest alive (the fabric's end-of-era delete rule is
    a synth-gate convention, not a payload rule)."""

    _keyed = staticmethod(lambda batch: batch)

    def finalize(self) -> pd.DataFrame:
        l3 = self.latest()
        l3.loc[l3.chain_state.isna(), "chain_state"] = "alive"
        return l3


def test_capture_chain_matches_batch_i1(spark):
    from obadiah_spark.sources.bitstamp import (
        BFX_I1_RAW_SQL, capture_raw_book_events, frame_episodes)

    framed = (
        frame_episodes(spark.sql(BFX_I1_RAW_SQL))
        .withColumn("era", F.date_trunc("week", F.col("episode_timestamp")))
        .filter(F.col("pair_id") == 1)   # chain state keys by (order, era)
    )
    pairs = spark.createDataFrame([(1, 2, 8)], "pair_id int, r0 int, fmu int")
    batch = capture_raw_book_events(framed, pairs).toPandas()

    # ---- streaming side: the message-level preprocessing a feed adapter
    # does (dedup happens INSIDE process_batch; side is data) ----
    pdf = framed.toPandas().sort_values(
        ["exchange_ts", "local_ts", "event_id"]).reset_index(drop=True)
    pdf["price"] = np.round(pdf["price"] * 100) / 100
    pdf["amount"] = np.round(pdf["amount"] * 1e8) / 1e8
    first_amount = (
        pdf.groupby(["era", "order_id"], sort=False)["amount"].transform("first"))
    msgs = pd.DataFrame({
        "order_id": pdf["order_id"].astype("int64"),
        "microtimestamp": pdf["episode_timestamp"],
        "local_timestamp": pdf["local_ts"],
        "event_id": pdf["event_id"].astype("int64"),
        "pair_id": pdf["pair_id"].astype("int32"),
        "era": pdf["era"],
        "side": np.where(first_amount < 0, "s", "b"),
        "is_delete": pdf["price"] == 0,
        "price": pdf["price"],
        "amount": pdf["amount"].abs(),
    })
    ing = _RawIngestor()
    cuts = [0, len(msgs) // 3, 2 * len(msgs) // 3, len(msgs)]
    for lo, hi in zip(cuts, cuts[1:]):   # three micro-batches
        ing.process_batch(msgs.iloc[lo:hi])
    stream = ing.finalize()
    # lonely deletions: the batch program drops them (price NULL guard);
    # the incremental form emits them as an empty one-event life
    stream = stream[~((stream.chain_state == "deleted")
                      & (stream.event_no == 1))]

    cols = ["order_id", "microtimestamp", "event_no", "side", "price",
            "amount", "fill", "next_microtimestamp", "next_event_no",
            "price_microtimestamp", "price_event_no", "life_no",
            "chain_state"]
    b = batch[cols].sort_values(["order_id", "microtimestamp", "event_no"]
                                ).reset_index(drop=True)
    s = stream[cols].sort_values(["order_id", "microtimestamp", "event_no"]
                                 ).reset_index(drop=True)
    s["event_no"] = s["event_no"].astype(b["event_no"].dtype)
    s["life_no"] = s["life_no"].astype(b["life_no"].dtype)
    pd.testing.assert_frame_equal(b, s, check_dtype=False)


def test_executor_chain_matches_batch_i1(spark, tmp_path):
    """Same differential through the EXECUTOR-SIDE processor
    (applyInPandasWithState, state in the Spark state store): a framed
    payload stream replayed file-per-trigger must fold to the batch I1
    output."""
    from obadiah_spark.sources.bitstamp import (
        BFX_I1_RAW_SQL, capture_raw_book_events, frame_episodes)
    from obadiah_spark.streaming.chain import run_payload_chain_stream

    framed = (
        frame_episodes(spark.sql(BFX_I1_RAW_SQL))
        .withColumn("era", F.date_trunc("week", F.col("episode_timestamp")))
        .filter(F.col("pair_id") == 1)
    )
    pairs = spark.createDataFrame([(1, 2, 8)], "pair_id int, r0 int, fmu int")
    batch = capture_raw_book_events(framed, pairs).toPandas()

    pdf = framed.toPandas().sort_values(
        ["exchange_ts", "local_ts", "event_id"]).reset_index(drop=True)
    pdf["price"] = np.round(pdf["price"] * 100) / 100
    pdf["amount"] = np.round(pdf["amount"] * 1e8) / 1e8
    first_amount = (
        pdf.groupby(["era", "order_id"], sort=False)["amount"].transform("first"))
    pdf["side"] = np.where(first_amount < 0, "s", "b")
    cols = ["event_id", "exchange_ts", "local_ts", "pair_id", "order_id",
            "price", "amount", "episode_timestamp", "era", "side"]
    schema = ("event_id bigint, exchange_ts timestamp, local_ts timestamp, "
              "pair_id int, order_id bigint, price double, amount double, "
              "episode_timestamp timestamp, era timestamp, side string")
    src = tmp_path / "framed"
    src.mkdir()
    cuts = [0, len(pdf) // 3, 2 * len(pdf) // 3, len(pdf)]
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        spark.createDataFrame(pdf.iloc[lo:hi][cols], schema) \
            .coalesce(1).write.parquet(str(src / f"b{i}"))
    # one directory per batch won't do for maxFilesPerTrigger — flatten
    import glob
    import shutil
    flat = tmp_path / "flat"
    flat.mkdir()
    import os
    import time
    now = time.time()
    for i in range(3):
        part = glob.glob(str(src / f"b{i}" / "part-*.parquet"))[0]
        dst = flat / f"{i:02d}.parquet"
        shutil.copy(part, dst)
        # the file source replays in mtime order; same-ms copies tie
        os.utime(dst, (now + 10 * i, now + 10 * i))

    stream = run_payload_chain_stream(
        spark, str(flat), schema=(
            "event_id bigint, exchange_ts timestamp, local_ts timestamp, "
            "pair_id int, order_id bigint, price double, amount double, "
            "episode_timestamp timestamp, era timestamp, side string"),
        checkpoint_dir=str(tmp_path / "ckpt"))
    # open tails rest alive; lonely deletes are the documented difference
    stream.loc[stream.chain_state.isna(), "chain_state"] = "alive"
    stream = stream[~((stream.chain_state == "deleted")
                      & (stream.event_no == 1))]

    comp = ["order_id", "microtimestamp", "event_no", "side", "price",
            "amount", "fill", "next_microtimestamp", "next_event_no",
            "price_microtimestamp", "price_event_no", "life_no",
            "chain_state"]
    b = batch[comp].sort_values(["order_id", "microtimestamp", "event_no"]
                                ).reset_index(drop=True)
    s = stream[comp].sort_values(["order_id", "microtimestamp", "event_no"]
                                 ).reset_index(drop=True)
    pd.testing.assert_frame_equal(b, s, check_dtype=False)
