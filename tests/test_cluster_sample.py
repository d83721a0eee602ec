"""Cluster-balanced subsampling: DuckDB value differential (including
the k-means training replay), the balance cap, quota nesting, and the
offline-codebook path."""

from __future__ import annotations

from tools.verify_local import canonicalize

PER_CELL = 20  # sf0.01: ~31 vectors/cell at 16 cells → real drops


def test_cluster_sample_duckdb_differential(spark, duck):
    from obadiah_spark.pipelines.sampling import (
        cluster_balanced_sample, cluster_balanced_sample_oracle_sql)

    emb = spark.table("embeddings")
    got = cluster_balanced_sample(emb, PER_CELL).toPandas()
    want = duck.execute(cluster_balanced_sample_oracle_sql(PER_CELL)).df()
    assert canonicalize(got).equals(canonicalize(want))
    # non-vacuous: the cap actually bites somewhere
    assert 0 < len(got) < emb.count()


def test_cluster_sample_balance_cap(spark):
    """No cell contributes more than per_cell rows, and an under-full
    cell keeps ALL its members."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.sampling import cluster_balanced_sample
    from obadiah_spark.pipelines.similarity import (_rank_cells,
                                                    train_ivf_codebook)

    emb = spark.table("embeddings")
    cb = train_ivf_codebook(emb)
    kept = cluster_balanced_sample(emb, PER_CELL, codebook=cb).toPandas()
    sizes = (_rank_cells(emb.select("vec_id", "embedding"), cb,
                         "vec_id", "embedding")
             .filter(F.col("cr") == 1).groupBy("cell").count().toPandas()
             .set_index("cell")["count"])
    per = kept.groupby("cell").size()
    for cell, n in per.items():
        assert n == min(PER_CELL, int(sizes.loc[cell]))


def test_cluster_sample_quota_nesting(spark):
    """The per_cell=10 sample is a strict prefix of per_cell=20 — the
    hash_sample monotonicity, per cell."""
    from obadiah_spark.pipelines.sampling import cluster_balanced_sample
    from obadiah_spark.pipelines.similarity import train_ivf_codebook

    emb = spark.table("embeddings")
    cb = train_ivf_codebook(emb)
    small = {r.vec_id for r in cluster_balanced_sample(
        emb, 10, codebook=cb).collect()}
    big = {r.vec_id for r in cluster_balanced_sample(
        emb, PER_CELL, codebook=cb).collect()}
    assert small < big


def test_cluster_sample_codebook_path(spark):
    """codebook= skips in-query training and reproduces the in-query
    result exactly (the semdedup precedent)."""
    from obadiah_spark.pipelines.sampling import cluster_balanced_sample
    from obadiah_spark.pipelines.similarity import train_ivf_codebook

    emb = spark.table("embeddings")
    a = cluster_balanced_sample(emb, PER_CELL).toPandas()
    b = cluster_balanced_sample(
        emb, PER_CELL, codebook=train_ivf_codebook(emb)).toPandas()
    assert canonicalize(a).equals(canonicalize(b))
