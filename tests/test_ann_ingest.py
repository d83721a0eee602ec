"""Streaming IVF-PQ index ingest: a 3-micro-batch vector replay under
frozen codebooks must produce an index row-identical to the one-shot
batch build (the `_encode_vectors`-is-shared argument, now pinned for
the streaming driver too), idempotent under batch replay, and
query-identical through ann_ivfpq_query."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _stream_src(spark, emb, tmp_path, chunks=3):
    """Author the mtime-ordered replay chunks (vec_id thirds)."""
    rows = emb.select("vec_id", "embedding").toPandas().sort_values(
        "vec_id").reset_index(drop=True)
    src = tmp_path / "vecs"
    src.mkdir()
    per = (len(rows) + chunks - 1) // chunks
    now = time.time()
    for i in range(chunks):
        p = src / f"{i:03d}.parquet"
        rows.iloc[i * per:(i + 1) * per].to_parquet(p)
        os.utime(p, (now + 10 * i, now + 10 * i))
    return str(src)


@pytest.fixture(scope="module")
def ingested(spark, sf_dir, tmp_path_factory):
    from obadiah_spark.pipelines.similarity import write_ivfpq_index
    from obadiah_spark.streaming.ann_ingest import run_ann_index_ingest

    tmp = tmp_path_factory.mktemp("ann_ingest")
    emb = _emb(spark, sf_dir)
    batch_idx = str(tmp / "batch_idx")
    write_ivfpq_index(emb, batch_idx, train_pq=False)
    stream_idx = str(tmp / "stream_idx")
    src = _stream_src(spark, emb, tmp)
    run_ann_index_ingest(
        spark, src, "vec_id long, embedding array<float>",
        str(tmp / "ckpt"), stream_idx, train_emb=emb, train_pq=False)
    return emb, batch_idx, stream_idx, src, tmp


def test_streamed_index_rows_equal_batch_build(spark, ingested):
    """(vec_id, cell, codes) of the streamed index == the one-shot
    build: the same _encode_vectors pass under the same frozen books
    cannot diverge, and now the streaming driver is pinned to it."""
    _, batch_idx, stream_idx, _, _ = ingested
    cols = ["vec_id", "cell", "codes"]
    a = sorted(
        (r.vec_id, r.cell, tuple(r.codes)) for r in
        spark.read.parquet(os.path.join(batch_idx, "vectors"))
        .select(*cols).collect())
    b = sorted(
        (r.vec_id, r.cell, tuple(r.codes)) for r in
        spark.read.parquet(os.path.join(stream_idx, "vectors"))
        .select(*cols).collect())
    assert a == b and a


def test_streamed_index_queries_identically(spark, ingested):
    """ann_ivfpq_query over the streamed layout (extra ingest_batch
    partition level) returns exactly the batch index's results."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.similarity import ann_ivfpq_query

    emb, batch_idx, stream_idx, _, _ = ingested
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    a = sorted(tuple(r) for r in ann_ivfpq_query(spark, batch_idx,
                                                 q).collect())
    b = sorted(tuple(r) for r in ann_ivfpq_query(spark, stream_idx,
                                                 q).collect())
    assert a == b and a


def test_replay_is_idempotent(spark, ingested, tmp_path):
    """A rerun over the same source with a FRESH checkpoint replays
    every batch_id against the same index: the dynamic-partition
    overwrite lands each batch on its own ingest_batch=N partitions,
    so the row set is unchanged (no duplicate vectors)."""
    from obadiah_spark.streaming.ann_ingest import run_ann_index_ingest

    _, _, stream_idx, src, _ = ingested
    before = sorted(
        (r.vec_id, r.cell) for r in
        spark.read.parquet(os.path.join(stream_idx, "vectors"))
        .select("vec_id", "cell").collect())
    run_ann_index_ingest(
        spark, src, "vec_id long, embedding array<float>",
        str(tmp_path / "ckpt2"), stream_idx)
    after = sorted(
        (r.vec_id, r.cell) for r in
        spark.read.parquet(os.path.join(stream_idx, "vectors"))
        .select("vec_id", "cell").collect())
    assert before == after and before


def test_resume_reuses_frozen_codebooks(spark, ingested):
    """prepare_index_codebooks on an existing index returns the stored
    books verbatim and ignores training args — a restarted ingest must
    encode in the same quantization space as the resident rows."""
    from obadiah_spark.streaming.ann_ingest import prepare_index_codebooks

    _, _, stream_idx, _, _ = ingested
    cb, subcb = prepare_index_codebooks(spark, stream_idx, n_cells=2)
    stored = spark.read.parquet(os.path.join(stream_idx, "codebook"))
    assert cb.exceptAll(stored).count() == 0
    assert cb.count() == stored.count() > 2  # n_cells=2 was ignored


def test_fresh_index_requires_books_or_training(spark, tmp_path):
    from obadiah_spark.streaming.ann_ingest import prepare_index_codebooks

    with pytest.raises(ValueError, match="frozen-"):
        prepare_index_codebooks(spark, str(tmp_path / "empty_idx"))


def test_partial_book_initialization_fails_fast(spark, sf_dir, tmp_path):
    """An index holding only one of codebook/subcodebook (a crashed
    prior initialization) is rejected instead of silently retrained —
    retraining would fork the quantization space from any resident
    rows; and a present-but-unreadable book must raise the read error,
    not fall through to training."""
    from obadiah_spark.pipelines.similarity import train_ivf_codebook
    from obadiah_spark.streaming.ann_ingest import prepare_index_codebooks

    emb = _emb(spark, sf_dir)
    idx = tmp_path / "half_idx"
    train_ivf_codebook(emb, str(idx / "codebook"))
    with pytest.raises(ValueError, match="partial prior"):
        prepare_index_codebooks(spark, str(idx), train_emb=emb)


def test_stale_ingest_batches_fail_fast(spark, sf_dir, tmp_path):
    """A reused index whose vectors hold ingest_batch partitions beyond
    the checkpoint's last committed batch (a re-batched or pruned-
    source rerun) is detected instead of silently double-counting the
    stale rows in every query."""
    from obadiah_spark.pipelines.similarity import (pq_subcodebooks,
                                                    train_ivf_codebook)
    from obadiah_spark.streaming.ann_ingest import run_ann_index_ingest

    emb = _emb(spark, sf_dir)
    src = _stream_src(spark, emb, tmp_path)
    idx = str(tmp_path / "idx")
    cb, sub = train_ivf_codebook(emb), pq_subcodebooks(emb)
    # run 1: 3 files at 1 file/trigger -> ingest_batch={0,1,2}
    run_ann_index_ingest(
        spark, src, "vec_id long, embedding array<float>",
        str(tmp_path / "ckpt1"), idx, codebook=cb, subcodebook=sub)
    # run 2: same source, FRESH checkpoint, all files in ONE trigger ->
    # only ingest_batch=0 commits; 1 and 2 are stale survivors
    with pytest.raises(ValueError, match="stale"):
        run_ann_index_ingest(
            spark, src, "vec_id long, embedding array<float>",
            str(tmp_path / "ckpt2"), idx, max_files_per_trigger=3)


def test_unvalidated_books_are_rejected_before_write(spark, sf_dir,
                                                     tmp_path):
    """Finding-closure triple: a wrong-shaped codebook, an oversized
    codebook, and a missing-subcodebook call must all fail BEFORE
    anything is written — the index dir stays absent, so no partial
    state survives the error."""
    import os

    from obadiah_spark.pipelines.similarity import train_ivf_codebook
    from obadiah_spark.streaming.ann_ingest import prepare_index_codebooks

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="cell, c_emb"):
        prepare_index_codebooks(spark, idx, codebook=emb.select("vec_id"),
                                subcodebook=emb.select("vec_id"))
    with pytest.raises(ValueError, match="n_cells=2"):
        prepare_index_codebooks(spark, idx,
                                codebook=train_ivf_codebook(emb),
                                subcodebook=emb.select("vec_id"),
                                n_cells=2)
    with pytest.raises(ValueError, match="BOTH"):
        prepare_index_codebooks(spark, idx,
                                codebook=train_ivf_codebook(emb))
    assert not os.path.exists(idx)
