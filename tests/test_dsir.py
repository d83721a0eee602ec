"""DSIR importance resampling: DuckDB value differentials for the
hashed-bigram weights and the deterministic exp-weight hash race, plus
the semantic sanity the oracle can't see (target members score high,
acceptance is weight-monotone in expectation)."""

from __future__ import annotations

from tools.verify_local import canonicalize

# gate fabric: the target corpus is a deterministic 30% hash sample of
# the documents table — reproducible on both engines from the shared
# sample_u convention, and a strict subset so target members' own
# bigrams visibly shift the bucket model
TARGET_FRACTION = 0.3
TARGET_SALT = "dsir_target"


def _target(spark):
    from obadiah_spark.pipelines.sampling import hash_sample

    docs = spark.table("documents").select("doc_id", "text")
    return hash_sample(docs, TARGET_FRACTION,
                       salt=TARGET_SALT).select("doc_id", "text")


def _target_sql() -> str:
    from obadiah_spark.pipelines.sampling import (_threshold,
                                                  sample_u_sql)

    return (f"SELECT doc_id, text FROM documents "
            f"WHERE {sample_u_sql('doc_id', TARGET_SALT)} "
            f"< {_threshold(TARGET_FRACTION)}")


def test_dsir_weights_duckdb_differential(spark, duck):
    from obadiah_spark.pipelines.dsir import (dsir_weights,
                                              dsir_weights_oracle_sql)

    docs = spark.table("documents").select("doc_id", "text")
    got = dsir_weights(docs, _target(spark)).toPandas()
    want = duck.execute(dsir_weights_oracle_sql(_target_sql())).df()
    assert canonicalize(got).equals(canonicalize(want))
    # non-vacuous: a real spread of weights, not a constant column
    assert got.weight_bits.nunique() > 10
    assert len(got) == docs.count()


def test_dsir_sample_duckdb_differential(spark, duck):
    from obadiah_spark.pipelines.dsir import (dsir_sample,
                                              dsir_sample_oracle_sql)

    docs = spark.table("documents").select("doc_id", "text")
    got = dsir_sample(docs, _target(spark)).toPandas()
    want = duck.execute(dsir_sample_oracle_sql(_target_sql())).df()
    assert canonicalize(got).equals(canonicalize(want))
    # a real selection: some accepted, some rejected
    assert 0 < len(got) < docs.count()


def test_target_members_score_higher(spark):
    """Target documents are a subset of the raw corpus, so their own
    bigrams inflate the target bucket model — the mean importance
    weight of target members must exceed the non-members' (the signal
    DSIR exists to produce)."""
    from obadiah_spark.pipelines.dsir import dsir_weights

    docs = spark.table("documents").select("doc_id", "text")
    tgt_ids = {r.doc_id for r in _target(spark).select("doc_id").collect()}
    w = dsir_weights(docs, _target(spark)).toPandas()
    inside = w[w.doc_id.isin(tgt_ids)].weight_bits.mean()
    outside = w[~w.doc_id.isin(tgt_ids)].weight_bits.mean()
    assert inside > outside


def test_acceptance_is_weight_monotone(spark):
    """The hash race admits ∝ 2^weight: group documents by weight_bits
    and check the acceptance RATE is non-decreasing across the three
    weight terciles (deterministic per doc, monotone in aggregate)."""
    import pandas as pd

    from obadiah_spark.pipelines.dsir import dsir_sample, dsir_weights

    docs = spark.table("documents").select("doc_id", "text")
    w = dsir_weights(docs, _target(spark)).toPandas()
    kept = {r.doc_id for r in dsir_sample(
        docs, _target(spark)).select("doc_id").collect()}
    w["kept"] = w.doc_id.isin(kept)
    w["tercile"] = pd.qcut(w.weight_bits.rank(method="first"), 3,
                           labels=False)
    rates = w.groupby("tercile").kept.mean()
    assert rates.iloc[0] <= rates.iloc[1] <= rates.iloc[2]
    assert rates.iloc[2] > rates.iloc[0]


def test_empty_target_degrades_to_uniform(spark):
    """An EMPTY target corpus carries no information: every weight
    collapses to the neutral 0 (the NULL target total nulls the bucket
    weights; the per-doc coalesce restores 0), and the race reduces to
    plain hash_sample at base_fraction — graceful, not a crash."""
    from obadiah_spark.pipelines.dsir import dsir_sample, dsir_weights

    docs = spark.table("documents").select("doc_id", "text")
    empty = spark.createDataFrame([], "doc_id long, text string")
    w = dsir_weights(docs, empty).toPandas()
    assert len(w) == docs.count()
    assert (w.weight_bits == 0).all()
    n = dsir_sample(docs, empty).count()
    # uniform at base_fraction=0.5: a binomial(500, .5) stays well
    # inside [150, 350]
    assert 150 < n < 350


def test_short_docs_carry_neutral_weight(spark):
    """Documents with fewer than two words have no bigram: n_grams=0,
    weight_bits=0 (the empty product), still present in the output."""
    from obadiah_spark.pipelines.dsir import dsir_weights

    extra = spark.createDataFrame(
        [(990_001, "single"), (990_002, "")],
        "doc_id long, text string")
    docs = spark.table("documents").select("doc_id", "text").unionByName(
        extra)
    w = {r.doc_id: r for r in dsir_weights(docs, _target(spark)).collect()}
    assert w[990_001].n_grams == 0 and w[990_001].weight_bits == 0
    assert w[990_002].n_grams == 0 and w[990_002].weight_bits == 0
