"""Persisted IVF-PQ index: query-path parity with the in-memory
operator (bit-identical — same ADC fold, tiebreaks, adaptive depth)
and the layout property the index exists for: the vectors scan carries
a dynamic partition-pruning expression on cell, so a query reads only
its probed cell directories."""

from __future__ import annotations

import os

import pytest


def _emb(spark, sf_dir):
    from obadiah_spark.session import read_table

    try:
        return read_table(spark, sf_dir, "embeddings")
    except Exception:
        return spark.read.parquet(os.path.join(sf_dir,
                                               "embeddings.parquet"))


def test_indexed_query_matches_inmemory(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.similarity import (ann_ivfpq,
                                                    ann_ivfpq_query,
                                                    write_ivfpq_index)

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path, train_pq=True)
    cb = spark.read.parquet(os.path.join(path, "codebook"))
    subcb = spark.read.parquet(os.path.join(path, "subcodebook"))
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    got = (ann_ivfpq_query(spark, path, q, k=5).toPandas()
           .sort_values(["q_id", "rank"]).reset_index(drop=True))
    want = (ann_ivfpq(emb, 10, 5, codebook=cb, subcodebook=subcb)
            .toPandas().sort_values(["q_id", "rank"])
            .reset_index(drop=True))
    assert len(got) == 50
    assert got.equals(want)


def test_indexed_query_prunes_cell_partitions(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.similarity import (ann_ivfpq_query,
                                                    write_ivfpq_index)

    emb = _emb(spark, sf_dir)
    path = str(tmp_path / "ivfpq_p")
    write_ivfpq_index(emb, path, train_pq=False)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    df = ann_ivfpq_query(spark, path, q, k=5)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    # the probe join must reach the partitioned scan as a dynamic
    # partition-pruning filter on cell — the "read only probed
    # directories" guarantee, asserted on the plan like the silver
    # layout's PartitionFilters test
    assert "dynamicpruning" in plan, plan[:2000]
    assert df.count() > 0


def test_append_grows_index_without_retraining(spark, sf_dir, tmp_path):
    """append_ivfpq_index: build on the even half, append the odd half —
    the vectors table must be ROW-IDENTICAL to a single-shot encode of
    the full corpus under the same (frozen) codebooks, existing cell
    files must survive untouched, and a query over the appended index
    must surface appended vectors."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.similarity import (_encode_vectors,
                                                    append_ivfpq_index,
                                                    ann_ivfpq_query,
                                                    write_ivfpq_index)

    emb = _emb(spark, sf_dir)
    pm = F.pmod(F.col("vec_id"), F.lit(2))
    half0, half1 = emb.filter(pm == 0), emb.filter(pm != 0)
    path = str(tmp_path / "ivfpq_a")
    write_ivfpq_index(half0, path, train_pq=False)
    before = {}
    vec_dir = os.path.join(path, "vectors")
    for d in os.listdir(vec_dir):
        if d.startswith("cell="):
            full = os.path.join(vec_dir, d)
            before[d] = sorted(os.listdir(full))
    append_ivfpq_index(spark, path, half1)
    # existing files untouched (append, not rewrite)
    for d, files in before.items():
        now = set(os.listdir(os.path.join(vec_dir, d)))
        assert set(files) <= now, d
    # row-identical to the one-shot encode under the same codebooks
    cb = spark.read.parquet(os.path.join(path, "codebook"))
    subcb = spark.read.parquet(os.path.join(path, "subcodebook"))
    got = {(r.vec_id, r.cell, tuple(r.codes))
           for r in spark.read.parquet(vec_dir)
           .select("vec_id", "cell", "codes").collect()}
    want = {(r.vec_id, r.cell, tuple(r.codes))
            for r in _encode_vectors(emb, cb, subcb, 4, 64)
            .select("vec_id", "cell", "codes").collect()}
    assert got == want and len(got) == emb.count()
    # a query can now surface odd (appended) vectors
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    res = ann_ivfpq_query(spark, path, q, k=5).toPandas()
    assert len(res) == 20
    assert (res.vec_id % 2 == 1).any()


def test_append_in_chunks_equals_one_append(spark, sf_dir, tmp_path):
    """Incremental composition: two appends land the same rows as one."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.similarity import (append_ivfpq_index,
                                                    write_ivfpq_index)

    emb = _emb(spark, sf_dir)
    pm = F.pmod(F.col("vec_id"), F.lit(3))
    base = emb.filter(pm == 0)
    p1 = str(tmp_path / "chunked")
    p2 = str(tmp_path / "oneshot")
    for p in (p1, p2):
        write_ivfpq_index(base, p, train_pq=False)
    append_ivfpq_index(spark, p1, emb.filter(pm == 1))
    append_ivfpq_index(spark, p1, emb.filter(pm == 2))
    append_ivfpq_index(spark, p2, emb.filter(pm != 0))
    rows = []
    for p in (p1, p2):
        rows.append({(r.vec_id, r.cell, tuple(r.codes))
                     for r in spark.read.parquet(
                         os.path.join(p, "vectors"))
                     .select("vec_id", "cell", "codes").collect()})
    assert rows[0] == rows[1]


def test_prebuilt_codebook_build_is_identical(spark, sf_dir, tmp_path):
    """write_ivfpq_index(codebook=) skips the in-build coarse training
    and produces a byte-identical index: Lloyd is deterministic, so a
    session-trained codebook over the same corpus/knobs IS the one the
    build would derive (the gate runners share one per session)."""
    from obadiah_spark.pipelines.similarity import (train_ivf_codebook,
                                                    write_ivfpq_index)

    emb = _emb(spark, sf_dir)
    a, b = str(tmp_path / "idx_a"), str(tmp_path / "idx_b")
    write_ivfpq_index(emb, a, train_pq=False)
    write_ivfpq_index(emb, b, train_pq=False,
                      codebook=train_ivf_codebook(emb))
    for part in ("codebook", "subcodebook", "vectors"):
        pa = spark.read.parquet(os.path.join(a, part))
        pb = spark.read.parquet(os.path.join(b, part))
        assert pa.exceptAll(pb).count() == 0
        assert pb.exceptAll(pa).count() == 0


def test_supplied_codebook_is_validated(spark, sf_dir, tmp_path):
    """ADVICE r14 #4: a supplied codebook with MORE cells than the
    build's n_cells argument (a cached frame trained under larger
    knobs, e.g. semdedup's corpus-proportional auto sizing) is
    rejected instead of silently forking the persisted index from what
    the arguments claim; a wrong-shaped frame is rejected on schema.
    (Fewer cells is legal: Lloyd drops empty cells, so a trained
    codebook may legitimately hold fewer rows than it was asked.)"""
    from obadiah_spark.pipelines.similarity import (train_ivf_codebook,
                                                    write_ivfpq_index)

    emb = _emb(spark, sf_dir)
    cb = train_ivf_codebook(emb)  # default 16 asked; > 2 survive
    assert cb.count() > 2
    with pytest.raises(ValueError, match="cells"):
        write_ivfpq_index(emb, str(tmp_path / "idx"), train_pq=False,
                          n_cells=2, codebook=cb)
    with pytest.raises(ValueError, match="cell, c_emb"):
        write_ivfpq_index(emb, str(tmp_path / "idx"), train_pq=False,
                          codebook=emb.select("vec_id"))
