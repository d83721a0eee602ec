"""CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
§4.2): hand-checked bucket boundaries on a fabricated corpus, the
census-CDF invariants (value-based boundaries, monotone buckets, ties
share a bucket), and the value-level DuckDB differential over the
staged gate's oracle."""

from __future__ import annotations



def _docs(spark, sf_dir):
    import os

    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_buckets_cover_and_are_monotone(spark, sf_dir):
    """Every scored doc lands in exactly one bucket and, per language,
    every head score < every middle score < every tail score (the
    census CDF is value-based, so buckets are order-respecting by
    construction — this pins the join-back didn't scramble them)."""
    from obadiah_spark.pipelines.text import perplexity_buckets

    rows = perplexity_buckets(_docs(spark, sf_dir)).collect()
    assert rows
    by_lang = {}
    for r in rows:
        assert r.bucket in ("head", "middle", "tail")
        by_lang.setdefault(r.lang, {"head": [], "middle": [],
                                    "tail": []})[r.bucket].append(
            r.ppl_milli)
    for lang, b in by_lang.items():
        if b["head"] and b["middle"]:
            assert max(b["head"]) < min(b["middle"]), lang
        if b["middle"] and b["tail"]:
            assert max(b["middle"]) < min(b["tail"]), lang


def test_thirds_on_tie_free_fabric(spark):
    """Nine same-language docs with nine distinct scores split exactly
    3/3/3; the boundary rule is the CDF-start strict compare (cum×3 <
    n), hand-checkable at this size."""
    from obadiah_spark.pipelines.text import perplexity_buckets

    # same trigram prefix (one language), increasingly rare bigrams:
    # doc k repeats a common pair then adds k distinct rare pairs
    base = "der die das und der die das und"
    docs = [(k, base + " " + " ".join(f"w{k}x{i} z{k}y{i}"
                                      for i in range(k)))
            for k in range(1, 10)]
    spark_docs = spark.createDataFrame(docs, "doc_id long, text string")
    out = perplexity_buckets(spark_docs).collect()
    assert len(out) == 9
    langs = {r.lang for r in out}
    assert len(langs) == 1  # one language -> one CDF
    scores = sorted((r.ppl_milli, r.bucket) for r in out)
    assert len({s for s, _ in scores}) == 9, "fabric must be tie-free"
    assert [b for _, b in scores] == (["head"] * 3 + ["middle"] * 3
                                      + ["tail"] * 3)


def test_ties_share_a_bucket(spark):
    """Documents with identical (lang, ppl_milli) cannot be split
    across buckets — boundaries are value-based, the property that
    makes the operator deterministic without any per-doc ordering."""
    from obadiah_spark.pipelines.text import perplexity_buckets

    base = "der die das und der die das und"
    # doc pairs (10,11), (20,21), (30,31) are textual clones -> equal
    # scores; 3 distinct score groups over 6 docs
    docs = []
    for k, grp in ((10, 0), (11, 0), (20, 3), (21, 3), (30, 6), (31, 6)):
        docs.append((k, base + " " + " ".join(
            f"w{grp}x{i} z{grp}y{i}" for i in range(grp))))
    out = perplexity_buckets(
        spark.createDataFrame(docs, "doc_id long, text string")).collect()
    bucket_of = {r.doc_id: r.bucket for r in out}
    assert bucket_of[10] == bucket_of[11]
    assert bucket_of[20] == bucket_of[21]
    assert bucket_of[30] == bucket_of[31]


def test_short_docs_drop(spark):
    """Documents without a single bigram (under two words) carry no
    perplexity signal and drop, mirroring CCNet's length prefilter."""
    from obadiah_spark.pipelines.text import perplexity_buckets

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "zwei worte hier und da mehr")],
        "doc_id long, text string")
    out = perplexity_buckets(docs).collect()
    assert {r.doc_id for r in out} == {3}


def test_matches_duckdb_oracle(spark, sf_dir):
    """Value-level differential: the staged gate's exact comparison."""
    import os

    import duckdb

    from obadiah_spark.pipelines.text import (perplexity_buckets,
                                              perplexity_buckets_oracle_sql)

    got = sorted(
        tuple(r) for r in perplexity_buckets(_docs(spark, sf_dir)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_dir, 'documents.parquet')}')")
    exp = sorted(tuple(r) for r in
                 con.execute(perplexity_buckets_oracle_sql()).fetchall())
    assert got == exp


def test_partition_invariance(spark, sf_dir):
    """The census CDF and broadcast join-back are layout-independent:
    1-partition and 16-partition inputs bucket identically."""
    from obadiah_spark.pipelines.text import perplexity_buckets

    docs = _docs(spark, sf_dir)
    a = sorted(tuple(r) for r in
               perplexity_buckets(docs.coalesce(1)).collect())
    b = sorted(tuple(r) for r in
               perplexity_buckets(docs.repartition(16)).collect())
    assert a == b
