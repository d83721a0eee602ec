"""Measured throughput of the streaming path (VERDICT r8 task #7): the
capture → chain → level1 pipeline replayed from files at $SPARK_GRAFT_SF_DIR
(default sf0.1), reporting rows/s and per-micro-batch latency for each
stage. Results go into SCALE.md §6.

Stages (each a real Structured Streaming query, file-per-trigger replay —
the deterministic stand-in for the socket transport, same code path from
parse onward):

1. ``capture``  — synthetic bitfinex wire-JSON lines (generated at a
   volume proportional to the sf events table) → ``streaming/capture.py``
   parse → route → bronze sinks.
2. ``chain``    — the sf events table in 16 file-chunks →
   ``streaming/chain.py`` applyInPandasWithState event chaining
   (update-mode upserts into a memory sink).
3. ``level1``   — the silver level3 parquet → ``streaming/spread.py``
   applyInPandasWithState episode fold to the level1 stream (its runner
   returns rows, not the query, so no per-batch latencies).

Prints one JSON line per stage and a final summary line:
{"stage": ..., "rows_in": N, "wall_sec": S, "rows_per_sec": R,
 "n_batches": B, "batch_ms": {"p50": ..., "max": ...}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def _batch_durations(query) -> list[float]:
    """triggerExecution ms per completed micro-batch (recentProgress keeps
    the last ~100 — enough for the 16-64 batches replayed here)."""
    out = []
    for p in query.recentProgress:
        d = p.get("durationMs", {}).get("triggerExecution")
        if d is not None and p.get("numInputRows", 0) > 0:
            out.append(float(d))
    return out


def _report(stage: str, rows_in: int, wall: float, durs: list[float]) -> dict:
    durs = sorted(durs)
    rec = {
        "stage": stage,
        "rows_in": rows_in,
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows_in / wall) if wall > 0 else None,
        "n_batches": len(durs),
        "batch_ms": {
            "p50": round(durs[len(durs) // 2]) if durs else None,
            "max": round(durs[-1]) if durs else None,
        },
    }
    print(json.dumps(rec), flush=True)
    return rec


def _pin_mtimes(d: str) -> None:
    """File streams replay in mtime order; same-ms ties reorder batches
    (verify-skill gotcha) — pin strictly increasing mtimes."""
    t = time.time()
    for i, f in enumerate(sorted(os.listdir(d))):
        os.utime(os.path.join(d, f), (t + 10 * i, t + 10 * i))


def _flatten(src: str, flat: str) -> str:
    """Move the parquet parts of ``src`` into ``flat`` as 000.parquet,
    001.parquet, ... in part order — one file per micro-batch — with
    strictly increasing mtimes; return ``flat``."""
    os.makedirs(flat)
    parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    for n, f in enumerate(parts):
        os.rename(os.path.join(src, f), os.path.join(flat, f"{n:03d}.parquet"))
    _pin_mtimes(flat)
    return flat


def bench_capture(spark, work: str, n_lines: int) -> dict:
    """Wire-JSON replay through the full capture sink (parse → route →
    registry → bronze parquet appends). Runs twice: file-per-trigger (16
    micro-batches — the latency shape) and all-files-in-one-trigger (the
    throughput shape, above the ~1 s/trigger floor that dominated the r9
    numbers)."""
    from obadiah_spark.streaming.capture import capture

    src = os.path.join(work, "wire")
    line_no = _gen_wire(src, n_lines)
    out = []
    for mfpt, tag in ((1, "capture"), (16, "capture_1batch")):
        bronze = os.path.join(work, f"bronze_{mfpt}")
        t0 = time.perf_counter()
        q = capture(spark, bronze, os.path.join(work, f"cap_ckpt_{mfpt}"),
                    pair_id=1, files_dir=src, max_files_per_trigger=mfpt)
        q.processAllAvailable()
        durs = _batch_durations(q)
        q.stop()
        q.capture_sink.flush()
        wall = time.perf_counter() - t0
        out.append(_report(tag, line_no, wall, durs))
    return out


def _gen_wire(src: str, n_lines: int) -> int:
    """The bitfinex wire fixture: 16 files, ~n_lines total (93% flat book
    updates — the fast-lane shape — plus trades, closes, and the dict
    events that carry routing state)."""
    import json as _json

    os.makedirs(src, exist_ok=True)
    per_file = max(1, n_lines // 16)
    line_no = 0
    for fi in range(16):
        rows = []
        if fi == 0:
            rows += [
                _json.dumps({"event": "info", "version": 2}),
                _json.dumps({"event": "subscribed", "channel": "book",
                             "chanId": 17, "prec": "R0"}),
                _json.dumps({"event": "subscribed", "channel": "trades",
                             "chanId": 29}),
            ]
        for _ in range(per_file):
            line_no += 1
            ts = 1_700_000_000_000 + line_no * 50
            if line_no % 37 == 5:        # zero-price close
                rows.append(_json.dumps([17, [line_no % 900, 0.0, 1.0], ts]))
            elif line_no % 11 == 3:      # tu trade
                rows.append(_json.dumps(
                    [29, "tu", [line_no, ts, 0.25, 100.0 + line_no % 13]]))
            else:                        # book update
                rows.append(_json.dumps(
                    [17, [line_no % 900, 100.0 + line_no % 7, 2.0], ts]))
        with open(os.path.join(src, f"{fi:03d}.txt"), "w") as fh:
            fh.write("\n".join(rows) + "\n")
    _pin_mtimes(src)
    return line_no


def _gen_bs_wire(src: str, n_lines: int) -> int:
    """Bitstamp dict-shaped wire fixture (order events + trades), the
    shapes the bitstamp JVM fast lane admits."""
    import json as _json

    os.makedirs(src, exist_ok=True)
    n = 0
    rows = []
    while n < n_lines:
        n += 1
        us = 1_700_000_000_000_000 + n * 1000
        if n % 9 == 4:
            rows.append(_json.dumps(
                {"event": "trade", "channel": "live_trades_btcusd",
                 "data": {"microtimestamp": str(us), "amount_str": "0.25",
                          "price_str": str(100.0 + n % 13), "id": n,
                          "buy_order_id": n * 2, "sell_order_id": n * 2 + 1,
                          "type": n % 2}}))
        else:
            ev = ("order_created", "order_changed", "order_deleted")[n % 3]
            rows.append(_json.dumps(
                {"event": ev, "channel": "live_orders_btcusd",
                 "data": {"microtimestamp": str(us),
                          "datetime": str(us / 1e6), "amount_str": "1.5",
                          "price_str": str(100.0 + n % 7), "id": n % 900,
                          "order_type": n % 2}}))
    with open(os.path.join(src, "000.txt"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    return n


def bench_parse(spark, work: str, n_lines: int) -> list[dict]:
    """Parse-isolating mode (VERDICT r10 task #3): BATCH-mode parse of the
    wire fixtures — no triggers, no sink. Under file-per-trigger replay the
    ~1 s/micro-batch trigger floor swamps the parse cost."""
    from obadiah_spark.streaming.capture import (parse_bitstamp_frames,
                                                 parse_frames)

    out = []
    jobs = [
        ("parse_bitfinex", os.path.join(work, "wire"), parse_frames),
        ("parse_bitstamp", os.path.join(work, "bs_wire"),
         parse_bitstamp_frames),
    ]
    if not os.path.isdir(jobs[0][1]):
        _gen_wire(jobs[0][1], n_lines)
    _gen_bs_wire(jobs[1][1], n_lines)
    for stage, src, fn in jobs:
        df = spark.read.text(src).localCheckpoint(eager=True)  # exclude IO
        rows_in = df.count()
        # warm once (Arrow), then time the second evaluation
        fn(df).write.mode("overwrite").format("noop").save()
        t0 = time.perf_counter()
        fn(df).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        out.append(_report(stage, rows_in, wall, []))
    return out


def bench_chain(spark, work: str, sf_dir: str) -> dict:
    """The sf events table through the executor-side stateful chain."""
    from pyspark.sql import functions as F

    from obadiah_spark.streaming.chain import chain_stream, keyed_stream
    from obadiah_spark.streaming.reorder import with_reorder_watermark

    src = os.path.join(work, "events")
    (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
     .repartitionByRange(16, "ts")
     .sortWithinPartitions("ts")
     .write.mode("overwrite").parquet(src))
    # one file per micro-batch, replayed in ts order
    flat = _flatten(src, os.path.join(work, "events_flat"))
    rows_in = spark.read.parquet(flat).count()
    t0 = time.perf_counter()
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    stream = with_reorder_watermark(stream, "ts", "1 second")
    out = chain_stream(keyed_stream(stream))
    q = (out.writeStream.format("memory").queryName("sb_chain")
         .option("checkpointLocation", os.path.join(work, "chain_ckpt"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    durs = _batch_durations(q)
    n_out = spark.table("sb_chain").count()
    wall = time.perf_counter() - t0
    rec = _report("chain", rows_in, wall, durs)
    rec["rows_out"] = n_out
    return rec


def bench_level1(spark, work: str, sf_dir: str) -> dict:
    """Silver level3 through the streaming episode fold to level1."""
    import __spark_entry__ as em
    from obadiah_spark.streaming.spread import run_streaming_spread

    src = os.path.join(work, "l3_chunks")
    # 16 time-range chunks: the fold's state machines need their events
    # in time order across micro-batches (range part numbering IS range
    # order, so the flat dir replays chronologically)
    (em._l3(spark, sf_dir)
     .repartitionByRange(16, "microtimestamp")
     .sortWithinPartitions("microtimestamp")
     .write.mode("overwrite").parquet(src))
    flat = _flatten(src, os.path.join(work, "l3_flat"))
    df = spark.read.parquet(flat)
    rows_in = df.count()
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    t0 = time.perf_counter()
    out = run_streaming_spread(spark, flat, schema,
                               os.path.join(work, "l1_ckpt"))
    wall = time.perf_counter() - t0
    rec = _report("level1", rows_in, wall, [])
    rec["rows_out"] = len(out)
    return rec


def bench_llm_ingest(spark, work: str, sf_dir: str,
                     reps: int = 20) -> list[dict]:
    """The r12 LLM-ingest operators over a ``reps``×-replicated
    documents corpus (scale_probe's decorrelated replication — per-
    replica character bijections, so buckets spread like a genuinely
    larger corpus): MinHash-LSH dedup ON INGEST and the full
    corpus_clean composition, both as real streaming queries replayed
    in 8 file-chunks."""
    from tools.scale_probe import build_docs

    from obadiah_spark.streaming.corpus_stream import (
        dedup_first_seen_stream, quality_scrub)
    from obadiah_spark.streaming.dedup_stream import minhash_lsh_stream

    docs_path = build_docs(spark, sf_dir, work, reps)
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    src = os.path.join(work, "docs_chunks")
    (docs.repartitionByRange(8, "doc_id")
     .write.mode("overwrite").parquet(src))
    flat = _flatten(src, os.path.join(work, "docs_flat"))
    rows_in = docs.count()
    out = []

    t0 = time.perf_counter()
    # one file per trigger = ONE input partition per micro-batch, which
    # would serialize the Python signature stage on a single core; the
    # ingest gate makes the same layout-normalizing repartition
    par = spark.sparkContext.defaultParallelism
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(flat)
              .repartition(par))
    q = (minhash_lsh_stream(stream)
         .writeStream.format("memory").queryName("sb_dedup")
         .option("checkpointLocation", os.path.join(work, "dd_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rec = _report("dedup_stream", rows_in, time.perf_counter() - t0,
                  _batch_durations(q))
    rec["rows_out"] = spark.table("sb_dedup").count()
    out.append(rec)

    t0 = time.perf_counter()
    kept = []
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(flat)
              .repartition(par))
    q = (dedup_first_seen_stream(stream)
         .writeStream
         .foreachBatch(lambda b, _i: kept.append(
             quality_scrub(b).count()))
         .option("checkpointLocation", os.path.join(work, "cc_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rec = _report("corpus_clean_stream", rows_in,
                  time.perf_counter() - t0, _batch_durations(q))
    rec["rows_out"] = int(sum(kept))
    out.append(rec)

    # r12 second wave: sequence packing on ingest — per-shard next-fit
    # fold, three scalars of state per shard
    from obadiah_spark.streaming.pack_stream import pack_stream

    t0 = time.perf_counter()
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(flat)
              .repartition(par))
    q = (pack_stream(stream)
         .writeStream.format("memory").queryName("sb_pack")
         .option("checkpointLocation", os.path.join(work, "pk_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rec = _report("pack_stream", rows_in, time.perf_counter() - t0,
                  _batch_durations(q))
    rec["rows_out"] = spark.table("sb_pack").count()
    out.append(rec)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from obadiah_spark.session import get_spark

    spark = get_spark("stream_bench")
    n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    work = tempfile.mkdtemp(prefix="stream_bench_")
    llm_only = "--llm-only" in sys.argv[1:]
    try:
        stages = ([*bench_llm_ingest(spark, work, sf_dir)] if llm_only
                  else [
            *bench_capture(spark, work, n_events),
            *bench_parse(spark, work, n_events),
            bench_chain(spark, work, sf_dir),
            bench_level1(spark, work, sf_dir),
            *bench_llm_ingest(spark, work, sf_dir),
        ])
        print(json.dumps({"metric": "stream_bench", "sf_dir": sf_dir,
                          "stages": {s["stage"]: s for s in stages}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
