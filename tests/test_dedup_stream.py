"""Streaming MinHash-LSH dedup: the stateless signature stage must be
bit-identical to the batch operator, and a chunked streaming replay must
produce the same candidate-pair set the batch self-join finds (the cap
deviation is pinned separately)."""

from __future__ import annotations

import os
import time

import pandas as pd

from obadiah_spark.pipelines.dedup import (
    _minhash_bands, minhash_lsh_candidates)
from obadiah_spark.streaming.dedup_stream import (
    minhash_bands_stream, minhash_lsh_stream)

DOCS_SCHEMA = "doc_id long, text string"


def _fixture_docs(n: int = 120) -> list[tuple[int, str]]:
    """Deterministic corpus with planted near-duplicates: doc 3k+1 and
    3k+2 share most of doc 3k's words (near-dups); every third doc is
    unrelated. A couple of degenerate docs (< 3 words) ride along."""
    words = [f"w{i}" for i in range(40)]
    rows = []
    for k in range(n // 3):
        base = [words[(k * 7 + j) % 40] for j in range(12)]
        rows.append((3 * k, " ".join(base)))
        rows.append((3 * k + 1, " ".join(base[:10] + ["x%d" % k])))
        rows.append((3 * k + 2, " ".join(
            [words[(k * 11 + j) % 40] for j in range(12)])))
    rows.append((n, "too short"))
    rows.append((n + 1, ""))
    return rows


def test_bands_stream_equals_batch(spark):
    """Stateless stage differential: the pandas-side hash arithmetic must
    reproduce the batch (and hence the DuckDB oracle) signatures
    byte-for-byte."""
    docs = spark.createDataFrame(_fixture_docs(), DOCS_SCHEMA)
    batch = {(r.doc_id, r.band, r.band_sig)
             for r in _minhash_bands(docs).collect()}
    stream_form = {(r.doc_id, r.band, r.band_sig)
                   for r in minhash_bands_stream(docs).collect()}
    assert stream_form == batch
    assert batch  # non-vacuous


def _replay_pairs(spark, tmp_path, rows, chunks: int, cap: int) -> set:
    src = tmp_path / "docs_stream"
    src.mkdir()
    per = (len(rows) + chunks - 1) // chunks
    now = time.time()
    for i in range(chunks):
        pd.DataFrame(rows[i * per:(i + 1) * per],
                     columns=["doc_id", "text"]).to_parquet(
            src / f"{i:03d}.parquet")
        # file streams replay in mtime order; pin it (verify-skill gotcha)
        os.utime(src / f"{i:03d}.parquet", (now + 10 * i, now + 10 * i))
    stream = (spark.readStream.schema(DOCS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (minhash_lsh_stream(stream, max_bucket_size=cap)
         .writeStream.format("memory").queryName("dedup_stream_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return {(r.doc_a, r.doc_b)
            for r in spark.table("dedup_stream_out").collect()}


def test_stream_replay_equals_batch_candidates(spark, tmp_path):
    """End-to-end differential: a 3-chunk streaming replay must find
    exactly the batch operator's candidate set when no bucket exceeds the
    cap (pairs split across micro-batches, state carries the buckets)."""
    rows = _fixture_docs()
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    batch = {(r.doc_a, r.doc_b)
             for r in minhash_lsh_candidates(docs,
                                             max_bucket_size=10_000)
             .collect()}
    streamed = _replay_pairs(spark, tmp_path, rows, chunks=3, cap=10_000)
    assert streamed == batch
    assert batch  # the fixture must actually plant near-dups


def test_stream_hot_bucket_prefix_cap(spark, tmp_path):
    """Cap deviation, pinned: a bucket of identical docs larger than the
    cap enrolls exactly ``cap`` members — C(cap, 2) pairs per band the
    bucket collides in — while the batch operator drops the bucket
    whole. Both are documented semantics; neither is unbounded."""
    rows = [(i, "alpha beta gamma delta epsilon") for i in range(12)]
    cap = 4
    streamed = _replay_pairs(spark, tmp_path, rows, chunks=2, cap=cap)
    # identical docs collide in ALL bands; pair set is the same C(cap,2)
    assert streamed == {(a, b) for a in range(cap)
                        for b in range(a + 1, cap)}
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    assert minhash_lsh_candidates(docs, max_bucket_size=cap).count() == 0


def test_embedding_stream_equals_batch_pairs(spark, tmp_path):
    """Streaming embedding near-dup differential: a 3-chunk replay of the
    sf0.01 embeddings (bounded subset) must produce exactly the batch
    ann_lsh_pairs set at the dedup sweep's geometry — pair set AND the
    round-9 cosines (the in-state scorer folds sums in the same order as
    the engine's SQL fold)."""
    from obadiah_spark.pipelines.dedup import DEDUP_PLANES, DEDUP_TABLES
    from obadiah_spark.pipelines.similarity import ann_lsh_pairs
    from obadiah_spark.streaming.dedup_stream import embedding_dedup_stream

    import numpy as np

    # uniform-random embeddings essentially never reach cosine 0.45 —
    # plant near-duplicates: every third vector gets a noisy copy
    rng = np.random.default_rng(23)
    rows = []
    vid = 0
    for k in range(80):
        v = rng.normal(size=64).astype(np.float32)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
        if k % 3 == 0:
            w = (v + rng.normal(scale=0.12, size=64)
                 .astype(np.float32)).astype(np.float32)
            rows.append((vid, [float(x) for x in w]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    batch = {(r.vec_a, r.vec_b): r.cosine
             for r in ann_lsh_pairs(emb, min_cosine=0.45,
                                    tables=DEDUP_TABLES,
                                    planes=DEDUP_PLANES).collect()}
    rows.sort()
    src = tmp_path / "emb_stream"
    src.mkdir()
    per = (len(rows) + 2) // 3
    now = time.time()
    import pyarrow as pa
    import pyarrow.parquet as pq
    for i in range(3):
        chunk = rows[i * per:(i + 1) * per]
        # float32 elements, exactly the source table's physical type
        tbl = pa.table({
            "vec_id": pa.array([r[0] for r in chunk], pa.int64()),
            "embedding": pa.array([r[1] for r in chunk],
                                  pa.list_(pa.float32())),
        })
        pq.write_table(tbl, src / f"{i:03d}.parquet")
        os.utime(src / f"{i:03d}.parquet", (now + 10 * i, now + 10 * i))
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (embedding_dedup_stream(stream, min_cosine=0.45,
                                max_bucket_size=10_000)
         .writeStream.format("memory").queryName("emb_dedup_out")
         .option("checkpointLocation", str(tmp_path / "eckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {}
    for r in spark.table("emb_dedup_out").collect():
        got[(r.vec_a, r.vec_b)] = r.cosine  # per-table dups collapse here
    assert set(got) == set(batch)
    assert batch, "fixture found no strong pairs — vacuous"
    for k, c in got.items():
        assert c == batch[k], (k, c, batch[k])
