"""Streaming packing: chunked doc_id-ordered replay must equal the
batch next-fit fold exactly, including sequences that straddle
micro-batch boundaries; the per-shard state is three scalars."""

from __future__ import annotations

import os
import time

import pandas as pd


def _replay(spark, tmp_path, rows, chunks=3, budget=None,
            name="pack_stream_out"):
    from obadiah_spark.pipelines.packing import PACK_BUDGET
    from obadiah_spark.streaming.pack_stream import pack_stream

    src = tmp_path / "docs"
    src.mkdir()
    per = (len(rows) + chunks - 1) // chunks
    now = time.time()
    for i in range(chunks):
        f = src / f"{i:03d}.parquet"
        pd.DataFrame(rows[i * per:(i + 1) * per],
                     columns=["doc_id", "text"]).to_parquet(f)
        os.utime(f, (now + 10 * i, now + 10 * i))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (pack_stream(stream, budget=budget or PACK_BUDGET)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return {tuple(r) for r in spark.table(name).collect()}


def test_stream_equals_batch_on_real_fabric(spark, sf_dir, tmp_path):
    from obadiah_spark.pipelines.packing import pack_sequences
    from obadiah_spark.session import read_table

    from obadiah_spark.pipelines.packing import PACK_SHARDS

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # pin the stream's shard count (batch default is the auto rule)
    batch = {tuple(r) for r in
             pack_sequences(docs, n_shards=PACK_SHARDS).collect()}
    rows = sorted((int(r.doc_id), r.text) for r in docs.collect())
    streamed = _replay(spark, tmp_path, rows, chunks=3)
    assert streamed == batch
    # non-vacuous: multi-doc sequences and >1 seq per shard exist
    seqs = pd.DataFrame(sorted(batch), columns=[
        "doc_id", "shard", "seq_no", "offset", "n_tokens", "overflow"])
    assert (seqs.groupby(["shard", "seq_no"]).size() > 1).any()
    assert (seqs.groupby("shard").seq_no.max() > 1).all()


def test_sequence_straddles_microbatch_boundary(spark, tmp_path):
    """A sequence open at the end of one micro-batch keeps filling in
    the next: doc 0 (3 tokens) arrives in chunk 1, doc 8 (3 tokens,
    same shard at n_shards=8) in chunk 2 — budget 10 packs them into
    ONE sequence at offsets 0 and 3."""
    from obadiah_spark.streaming.pack_stream import pack_stream  # noqa

    rows = [(0, "a b c"), (8, "d e f"), (16, "g h i j k l m n o")]
    out = _replay(spark, tmp_path, rows, chunks=3, budget=10,
                  name="pack_straddle")
    by_doc = {r[0]: r for r in out}
    assert by_doc[0] == (0, 0, 1, 0, 3, False)
    assert by_doc[8] == (8, 0, 1, 3, 3, False)   # same seq, carried fill
    assert by_doc[16] == (16, 0, 2, 0, 9, False)  # 3+3+9 > 10 -> new seq


def test_oversize_doc_overflows_own_sequence(spark, tmp_path):
    rows = [(0, " ".join(["w"] * 15)), (8, "x y")]
    out = _replay(spark, tmp_path, rows, chunks=2, budget=10,
                  name="pack_overflow")
    by_doc = {r[0]: r for r in out}
    assert by_doc[0] == (0, 0, 1, 0, 15, True)
    assert by_doc[8] == (8, 0, 2, 0, 2, False)
