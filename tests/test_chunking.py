"""Document chunking: boundary pins and the DuckDB value differential
(the r13 gate oracle)."""

from __future__ import annotations

from tools.verify_local import canonicalize


def test_chunk_boundaries_hand_pins(spark):
    from obadiah_spark.pipelines.chunking import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))),  # 10 words
         (2, "a b c"),                                # shorter than one
         (3, "x")],
        "doc_id long, text string")
    out = chunk_documents(docs, chunk_words=4, overlap_words=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: stride 3 -> starts 0,3,6 cover w0..w9 (start 6 window ends
    # at w9); 1 + ceil((10-4)/3) = 3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_no)
    assert [(r.start_word, r.n_words) for r in c1] == [(0, 4), (3, 4),
                                                       (6, 4)]
    assert c1[0].chunk == "w0 w1 w2 w3"
    assert c1[2].chunk == "w6 w7 w8 w9"
    # short docs yield exactly one (possibly partial) chunk
    assert [(r.chunk_no, r.n_words, r.chunk) for r in by_doc[2]] == [
        (0, 3, "a b c")]
    assert [(r.chunk_no, r.n_words, r.chunk) for r in by_doc[3]] == [
        (0, 1, "x")]
    # overlap: consecutive chunks share exactly overlap_words words
    assert c1[0].chunk.split()[-1:] == c1[1].chunk.split()[:1]


def test_chunk_duckdb_differential(spark, sf_dir, duck):
    from obadiah_spark.pipelines.chunking import (chunk_documents,
                                                  chunk_documents_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = chunk_documents(docs).toPandas()
    want = duck.execute(chunk_documents_oracle_sql()).df()
    assert canonicalize(got).equals(canonicalize(want))
    # real multi-chunk docs exist on the fabric and tails are covered
    assert (got.groupby("doc_id").size() > 1).any()
    import pandas as pd

    n_words = docs.toPandas().set_index("doc_id").text.str.split().map(len)
    covered = got.groupby("doc_id").apply(
        lambda g: (g.start_word + g.n_words).max(), include_groups=False)
    assert (covered == n_words.loc[covered.index]).all()
