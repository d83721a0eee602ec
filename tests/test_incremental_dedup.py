"""Index-backed incremental MinHash-LSH dedup: the increment's pair set
must equal the full-corpus batch operator restricted to pairs with a
new side, and the DuckDB oracle (the r13 gate) must value-match."""

from __future__ import annotations

from tools.verify_local import canonicalize


def _split(spark, sf_dir):
    from pyspark.sql import functions as F

    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    pm = ((F.col("doc_id") % 2) + 2) % 2
    return docs, docs.filter(pm == 0), docs.filter(pm != 0)


def test_incremental_equals_batch_restricted(spark, sf_dir, tmp_path):
    from obadiah_spark.pipelines.dedup import (minhash_lsh_candidates,
                                               minhash_lsh_incremental,
                                               write_minhash_index)

    docs, old, new = _split(spark, sf_dir)
    path = str(tmp_path / "mh_index")
    write_minhash_index(old, path)
    inc = {(r.doc_a, r.doc_b) for r in
           minhash_lsh_incremental(spark, path, new).collect()}
    full = {(r.doc_a, r.doc_b) for r in
            minhash_lsh_candidates(docs).collect()}
    want = {(a, b) for a, b in full if a % 2 != 0 or b % 2 != 0}
    assert inc == want
    assert inc  # non-vacuous on the fabric


def test_cap_census_covers_index_plus_increment(spark, tmp_path):
    """A bucket under the cap in the index alone but over it after the
    increment must drop out — exactly like the batch window."""
    from obadiah_spark.pipelines.dedup import (minhash_lsh_candidates,
                                               minhash_lsh_incremental,
                                               write_minhash_index)

    # 6 copies of one text: index holds 3 (ids 0,2,4), increment adds
    # 3 (ids 1,3,5). cap=4 admits the index bucket alone but not the
    # union — so the incremental result must be empty, matching the
    # capped batch run over all six.
    rows = [(i, "same text for every copy here") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    path = str(tmp_path / "mh_small")
    write_minhash_index(old, path)
    inc = minhash_lsh_incremental(spark, path, new,
                                  max_bucket_size=4).collect()
    batch = minhash_lsh_candidates(docs, max_bucket_size=4).collect()
    assert inc == [] and batch == []
    # with the cap lifted, all 12 odd-side pairs of the 6-clique appear
    inc2 = {(r.doc_a, r.doc_b) for r in minhash_lsh_incremental(
        spark, path, new, max_bucket_size=50).collect()}
    assert len(inc2) == 15 - 3  # C(6,2) minus the 3 even-even pairs


def test_incremental_duckdb_differential(spark, sf_dir, duck, tmp_path):
    from obadiah_spark.pipelines.dedup import (
        minhash_incremental_oracle_sql, minhash_lsh_incremental,
        write_minhash_index)

    _, old, new = _split(spark, sf_dir)
    path = str(tmp_path / "mh_gate")
    write_minhash_index(old, path)
    got = minhash_lsh_incremental(spark, path, new).toPandas()
    want = duck.execute(minhash_incremental_oracle_sql()).df()
    assert canonicalize(got).equals(canonicalize(want))


def test_reingested_doc_is_not_its_own_duplicate(spark, tmp_path):
    """A doc_id present in BOTH the index and the increment must not
    emit a degenerate (x, x) pair (the batch operator's strict
    doc_a < doc_b never does)."""
    from obadiah_spark.pipelines.dedup import (minhash_lsh_incremental,
                                               write_minhash_index)

    docs = spark.createDataFrame(
        [(1, "a long enough shared text for minhash shingles to exist"),
         (2, "a long enough shared text for minhash shingles to exist")],
        "doc_id long, text string")
    path = str(tmp_path / "mh_reingest")
    write_minhash_index(docs, path)           # index holds 1 AND 2
    pairs = {(r.doc_a, r.doc_b) for r in
             minhash_lsh_incremental(spark, path, docs).collect()}
    assert pairs == {(1, 2)}                  # no (1,1)/(2,2)


def test_near_dup_verify_flags_and_oracle(spark, sf_dir, duck):
    """Edit-distance verification of LSH candidates: DuckDB value
    differential over the gate oracle, plus a constructed mixed pairs
    frame so BOTH flag classes are exercised (the fabric's LSH
    candidates are all true near-dups)."""
    from tools.verify_local import canonicalize

    from obadiah_spark.pipelines.dedup import (minhash_lsh_candidates,
                                               near_dup_verify,
                                               near_dup_verify_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = near_dup_verify(minhash_lsh_candidates(docs), docs).toPandas()
    want = duck.execute(near_dup_verify_oracle_sql()).df()
    assert canonicalize(got).equals(canonicalize(want))

    mini = spark.createDataFrame(
        [(1, "the same sentence exactly"),
         (2, "the same sentence exactli"),     # 1 real edit (case is
                                                # erased by the
                                                # fingerprint normalizer)
         (3, "a completely different text body here")],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3)],
                                  "doc_a long, doc_b long")
    out = {(r.doc_a, r.doc_b): r for r in
           near_dup_verify(pairs, mini).collect()}
    near = out[(1, 2)]
    assert near.dist == 1 and near.is_near_dup
    far = out[(1, 3)]
    assert far.dist > 10 and not far.is_near_dup
    assert 0.0 <= far.sim < 0.8 <= near.sim <= 1.0
