"""SemDeDup (cluster-then-dedup over embeddings): DuckDB value
differential including the k-means training, planted exact-duplicate
detection at the paper's threshold, the hot-cell census guard, and the
offline-codebook production path."""

from __future__ import annotations

import numpy as np

from tools.verify_local import canonicalize

# the gate-fabric threshold: the driver embeddings are uniform random
# (within-cell cosines top out ~0.45), so the paper's 0.95 would make
# every verdict False; 0.3 yields a real mixed verdict set while nn_cos
# pins every within-cell cosine regardless
FABRIC_THRESHOLD = 0.3


def test_semdedup_duckdb_differential(spark, sf_dir, duck):
    from obadiah_spark.pipelines.dedup import semdedup, semdedup_oracle_sql
    from obadiah_spark.pipelines.similarity import IVF_CELLS
    from obadiah_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    # n_cells pinned: the SQL oracle replays a fixed IVF_CELLS k-means
    # (the default is the corpus-proportional "auto" since r14)
    got = semdedup(emb, threshold=FABRIC_THRESHOLD,
                   n_cells=IVF_CELLS).toPandas()
    want = duck.execute(semdedup_oracle_sql(
        threshold=FABRIC_THRESHOLD)).df()
    assert canonicalize(got).equals(canonicalize(want))
    # non-vacuous: real dups AND real keeps, nn pins most cosines
    assert 0 < got.is_dup.sum() < len(got)
    assert got.nn_cos.notna().sum() > len(got) * 0.9


def test_semdedup_internal_consistency(spark, sf_dir):
    from obadiah_spark.pipelines.dedup import semdedup
    from obadiah_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    out = semdedup(emb, threshold=FABRIC_THRESHOLD).toPandas()
    assert len(out) == emb.count()
    dup = out[out.is_dup]
    # canonical representative is an earlier vector, never self
    assert (dup.canon_id < dup.vec_id).all()
    # is_dup <=> nn_cos clears the threshold
    assert (dup.nn_cos >= FABRIC_THRESHOLD).all()
    keep = out[~out.is_dup]
    assert (keep.canon_id.isna()).all()
    # nn is always a smaller id in the same cell
    nn = out[out.nn_id.notna()]
    assert (nn.nn_id < nn.vec_id).all()
    by_cell = out.set_index("vec_id").cell
    assert (by_cell.loc[nn.nn_id.astype(int)].values
            == nn.cell.values).all()


def _planted(spark, n=40, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    # vector n = EXACT copy of vector 3 (cosine 1.0, same cell always)
    rows.append((n, [float(x) for x in vecs[3]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_flags_planted_exact_duplicate(spark):
    from obadiah_spark.pipelines.dedup import semdedup

    emb = _planted(spark)
    out = {r.vec_id: r for r in semdedup(
        emb, threshold=0.95, n_cells=4, stride=7).collect()}
    r = out[40]
    assert r.is_dup and r.canon_id == 3 and r.nn_id == 3
    assert abs(r.nn_cos - 1.0) < 1e-9
    assert not out[3].is_dup


def test_semdedup_hot_cell_census_guard(spark):
    """A cell over max_cell_size yields NO pairs (vectors kept, nn
    null) — the minhash hot-bucket rule, never a quadratic blowup."""
    from obadiah_spark.pipelines.dedup import semdedup

    emb = _planted(spark)
    out = semdedup(emb, threshold=0.95, n_cells=1, stride=7,
                   max_cell_size=5).toPandas()
    assert len(out) == 41
    assert (~out.is_dup).all()
    assert out.nn_id.isna().all()


def test_semdedup_offline_codebook_path(spark, sf_dir):
    """codebook= (train_ivf_codebook output) skips in-query training
    and reproduces the in-query result exactly."""
    from obadiah_spark.pipelines.dedup import semdedup
    from obadiah_spark.pipelines.similarity import (IVF_CELLS,
                                                    train_ivf_codebook)
    from obadiah_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cb = train_ivf_codebook(emb)  # IVF_CELLS geometry
    a = semdedup(emb, threshold=FABRIC_THRESHOLD,
                 n_cells=IVF_CELLS).toPandas()
    b = semdedup(emb, threshold=FABRIC_THRESHOLD,
                 codebook=cb).toPandas()
    assert canonicalize(a).equals(canonicalize(b))


def test_auto_cells_rule(spark, sf_dir):
    """n_cells="auto" sizes cells to the corpus: 500 vectors at
    1000/cell -> 1 cell (the brute-force regime at tiny scale), and a
    replicated 2500-vector frame -> 3 cells; the output still covers
    every vector exactly once."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.dedup import semdedup
    from obadiah_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    out = semdedup(emb, threshold=FABRIC_THRESHOLD, n_cells="auto")
    got = out.select("cell").distinct().count()
    assert got == max(1, -(-n // 1000))
    assert out.count() == n
    big = emb
    for k in (1, 2, 3, 4):
        big = big.unionByName(
            emb.select((F.col("vec_id") + 100_000 * k).alias("vec_id"),
                       "embedding", "label"))
    cells = (semdedup(big, threshold=FABRIC_THRESHOLD, n_cells="auto")
             .select("cell").distinct().count())
    assert cells == max(1, -(-(5 * n) // 1000))


def test_auto_cells_is_the_default(spark, sf_dir):
    """The DEFAULT path (no n_cells, no codebook) resolves to the
    corpus-proportional "auto" rule, not a fixed cell count — the
    measured production sizing (exponent 0.46 vs 0.78 fixed, SCALE.md
    §7) must not be opt-in (VERDICT r13 #2)."""
    from obadiah_spark.pipelines.dedup import SEMDEDUP_VECS_PER_CELL, semdedup
    from obadiah_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    out = semdedup(emb, threshold=FABRIC_THRESHOLD)
    assert (out.select("cell").distinct().count()
            == max(1, -(-n // SEMDEDUP_VECS_PER_CELL)))
    assert out.count() == n
