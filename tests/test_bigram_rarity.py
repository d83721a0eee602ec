"""Bigram rarity (the integer-exact perplexity-filter signal):
hand-computed surprisals, ordering sanity, and the value-level DuckDB
differential over the r13 gate's oracle."""

from __future__ import annotations



def test_hand_computed_whole_bit_surprisal(spark):
    """Corpus: 'a b' occurs 3x + three singleton bigrams -> N = 8...
    computed precisely below. bits = floor(log2(N)) - floor(log2(c))."""
    from obadiah_spark.pipelines.text import bigram_rarity

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x y")],
        "doc_id long, text string")
    # bigrams: doc1: (a b),(b a),(a b); doc2: (a b),(b c); doc3: (x y)
    # counts: 'a b'=3, 'b a'=1, 'b c'=1, 'x y'=1; N=6; floor_log2(6)=2
    out = {r.doc_id: r.asDict()
           for r in bigram_rarity(docs).collect()}
    # doc1: bits per instance: 'a b'->2-1=1, 'b a'->2-0=2, 'a b'->1
    assert out[1]["n_bigrams"] == 3
    assert out[1]["rarity_bits"] == 1 + 2 + 1
    assert out[1]["min_count"] == 1 and out[1]["max_bits"] == 2
    # doc2: 'a b'->1, 'b c'->2
    assert out[2]["rarity_bits"] == 3 and out[2]["n_bigrams"] == 2
    # doc3: 'x y'->2
    assert out[3]["rarity_bits"] == 2
    assert out[3]["mean_bits"] == 2.0
    # rarity ORDERS repetitive below unusual (the filter's job)
    assert out[1]["mean_bits"] < out[3]["mean_bits"]


def test_docs_without_bigrams_are_absent(spark):
    from obadiah_spark.pipelines.text import bigram_rarity

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two words")],
        "doc_id long, text string")
    got = {r.doc_id for r in bigram_rarity(docs).collect()}
    assert got == {3}


def test_duckdb_oracle_matches_exactly(spark, sf_dir):
    import os

    import duckdb

    from obadiah_spark.pipelines.text import (
        bigram_rarity, bigram_rarity_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {tuple(r) for r in bigram_rarity(docs).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')")
    want = {tuple(r) for r in
            con.execute(bigram_rarity_oracle_sql()).fetchall()}
    assert got == want and len(got) > 100
