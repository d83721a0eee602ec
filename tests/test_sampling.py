"""Deterministic hash sampling: reproducibility, nesting, salt
independence, stratified mixing, and a value-level DuckDB differential
(the r13 gate's oracle, exercised in-pytest meanwhile)."""

from __future__ import annotations



def test_sample_is_deterministic_and_nested(spark, sf_dir):
    from obadiah_spark.pipelines.sampling import hash_sample
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    s10a = {r.doc_id for r in hash_sample(docs, 0.10).collect()}
    s10b = {r.doc_id for r in hash_sample(docs, 0.10).collect()}
    s20 = {r.doc_id for r in hash_sample(docs, 0.20).collect()}
    assert s10a == s10b                       # rerun-stable
    assert s10a <= s20                        # nested for a fixed salt
    n = docs.count()
    assert 0.05 * n <= len(s10a) <= 0.16 * n  # ~binomial around 10%
    assert 0.13 * n <= len(s20) <= 0.28 * n


def test_salts_give_independent_samples(spark, sf_dir):
    from obadiah_spark.pipelines.sampling import hash_sample
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    a = {r.doc_id for r in hash_sample(docs, 0.3, salt="expA").collect()}
    b = {r.doc_id for r in hash_sample(docs, 0.3, salt="expB").collect()}
    assert a != b
    n = docs.count()
    # |a ∩ b| ≈ 0.09 n under independence; 500 docs → generous bounds
    assert 0.02 * n <= len(a & b) <= 0.20 * n


def test_stratified_mixing_weights(spark):
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.sampling import stratified_sample

    rows = [(i, "web" if i % 2 == 0 else ("books" if i % 4 == 1 else "code"))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(df, {"web": 0.1, "books": 1.0},
                            strata_col="source")
    got = {r.source: r.n for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got.get("books") == 1000          # fraction 1.0 keeps all
    assert 120 <= got.get("web", 0) <= 280   # ~10% of 2000
    assert "code" not in got                 # no entry -> dropped


def test_duckdb_oracle_matches_exactly(spark, sf_dir):
    """Value-level cross-engine differential: the DuckDB oracle over the
    same parquet must produce the identical (doc_id, sample_u) set."""
    import os

    import duckdb

    from obadiah_spark.pipelines.sampling import (
        hash_sample, hash_sample_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {(r.doc_id, r.sample_u)
           for r in hash_sample(docs, 0.25, salt="gate").collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')")
    want = {(r[0], r[2]) for r in con.execute(
        "SELECT doc_id, text, sample_u FROM (" +
        hash_sample_oracle_sql(0.25, salt="gate") + ")").fetchall()}
    assert got == want and got
