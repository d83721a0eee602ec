"""corpus_prepare — the full raw-docs → packed-training-sequences
composition: DuckDB value differential (the r13 gate oracle) plus
stage-consistency pins against the standalone operators."""

from __future__ import annotations

import pytest

from tools.verify_local import canonicalize


@pytest.fixture(scope="module")
def prepared(spark, sf_dir):
    from obadiah_spark.pipelines.docquality import corpus_prepare
    from obadiah_spark.pipelines.packing import PACK_SHARDS
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # pinned like the driver gate: the default is the corpus-count auto
    # rule, and the oracle reproduces a FIXED shard assignment
    return docs, corpus_prepare(docs, n_shards=PACK_SHARDS).toPandas()


def test_prepare_duckdb_differential(prepared, duck):
    from obadiah_spark.pipelines.docquality import corpus_prepare_oracle_sql

    _, got = prepared
    want = duck.execute(corpus_prepare_oracle_sql()).df()
    assert canonicalize(got).equals(canonicalize(want))
    assert len(got) > 0


def test_prepare_consistent_with_standalone_stages(prepared, spark):
    """Survivor set = dedup-canonical ∩ gopher-keep ∩ not-contaminated
    on the train split; packing is dense per shard (seq_nos start at 1
    with no gaps) and every offset fits the budget unless flagged."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.decontam import decontaminate
    from obadiah_spark.pipelines.dedup import exact_dedup
    from obadiah_spark.pipelines.docquality import gopher_quality
    from obadiah_spark.pipelines.packing import PACK_BUDGET

    docs, got = prepared
    pm = F.pmod(F.col("doc_id"), F.lit(20))
    train, bench = docs.filter(pm != 0), docs.filter(pm == 0)
    dd = {r.doc_id for r in exact_dedup(train)
          .filter("NOT is_duplicate").select("doc_id").collect()}
    gq = {r.doc_id for r in gopher_quality(train)
          .filter("keep").select("doc_id").collect()}
    dc = {r.doc_id for r in decontaminate(train, bench, n=4)
          .filter("NOT contaminated").select("doc_id").collect()}
    assert set(got.doc_id) == dd & gq & dc
    per_shard = got.groupby("shard").seq_no
    assert (per_shard.min() == 1).all()
    # dense numbering: max seq_no == distinct seq count per shard
    assert (per_shard.max()
            == got.groupby("shard").seq_no.nunique()).all()
    ok = got[~got.overflow]
    assert ((ok.offset + ok.n_tokens) <= PACK_BUDGET).all()


def test_prepare_counts_redacted_tokens(spark):
    """Token budget is charged on the SCRUBBED text: a long email
    redacts to one <EMAIL> token."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.docquality import corpus_prepare

    # >= 50 words, no repeated 3-grams (gopher would drop the doc), two
    # distinct stopwords, mean word length inside [3, 10]
    filler = ("the gopher rules and want varied tokens " +
              " ".join(f"word{i:02d}" for i in range(48)) + " ")
    text = filler + "contact someone.with.a.very.long.address@example.com"
    docs = spark.createDataFrame(
        [(1, text), (21, text + " extra")],
        "doc_id long, text string")
    out = corpus_prepare(docs, bench=docs.sparkSession.createDataFrame(
        [(0, "unrelated benchmark words entirely")],
        "doc_id long, text string")).toPandas()
    n_words_raw = len(text.split())
    got = out[out.doc_id == 1]
    assert len(got) == 1
    # the email collapsed to <EMAIL>: same token count as raw (1 token
    # replaced by 1 token) — but the md5 differs from the raw text
    import hashlib

    assert got.n_tokens.iloc[0] == n_words_raw
    assert got.redacted_md5.iloc[0] != hashlib.md5(
        text.encode()).hexdigest()


def test_prepare_mixing_stage(spark, sf_dir, duck):
    """sample_fraction inserts the deterministic hash_sample stage:
    survivors are the unsampled run's survivors filtered by the 60-bit
    threshold, packing renumbers densely, and the oracle reproduces the
    row set exactly."""
    from obadiah_spark.pipelines.docquality import (
        corpus_prepare, corpus_prepare_oracle_sql)
    from obadiah_spark.pipelines.packing import PACK_SHARDS
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    full = corpus_prepare(docs, n_shards=PACK_SHARDS).toPandas()
    mixed = corpus_prepare(docs, sample_fraction=0.5,
                           n_shards=PACK_SHARDS).toPandas()
    assert 0 < len(mixed) < len(full)
    assert set(mixed.doc_id) < set(full.doc_id)
    want = duck.execute(
        corpus_prepare_oracle_sql(sample_fraction=0.5)).df()
    assert canonicalize(mixed).equals(canonicalize(want))


def test_prepare_boilerplate_stage(spark, sf_dir, duck):
    """boilerplate_min_df inserts the CCNet rewrite as the FIRST
    training-side stage: the planted duplicate docs lose their shared
    word windows before dedup/quality run, decontam reads bench raw ∪
    train rewritten, and the chained oracle reproduces the packed row
    set exactly.  The default path stays byte-identical SQL (the
    registered gate's hash cannot move)."""
    from obadiah_spark.pipelines.docquality import (
        corpus_prepare, corpus_prepare_oracle_sql)
    from obadiah_spark.pipelines.packing import PACK_SHARDS
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    full = corpus_prepare(docs, n_shards=PACK_SHARDS).toPandas()
    bp = corpus_prepare(docs, boilerplate_min_df=2,
                        boilerplate_line_words=12,
                        n_shards=PACK_SHARDS).toPandas()
    want = duck.execute(corpus_prepare_oracle_sql(
        boilerplate_min_df=2, boilerplate_line_words=12)).df()
    assert canonicalize(bp).equals(canonicalize(want))
    # the stage did something: some md5s differ from the raw run's
    merged = bp.merge(full, on="doc_id", suffixes=("_bp", "_raw"))
    assert len(merged) > 0
    assert (merged.redacted_md5_bp != merged.redacted_md5_raw).any()


def test_render_sequences_materializes_the_artifact(spark, sf_dir, duck):
    """render_sequences: the per-sequence artifact (member count, token
    total, byte-exact content md5) hash-matches the recursive pack
    oracle + offset-ordered string_agg."""
    from obadiah_spark.pipelines.packing import (render_sequences,
                                                 render_sequences_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = render_sequences(docs).toPandas()
    want = duck.execute(render_sequences_oracle_sql()).df()
    assert canonicalize(got).equals(canonicalize(want))
    assert (got.n_docs > 1).any()     # real multi-doc sequences


def test_prepare_ppl_keep_stage(spark, sf_dir, duck):
    """ppl_keep inserts the CCNet §4.2 selection: buckets from
    perplexity_buckets over the FULL train corpus, survivors must sit
    in a kept bucket; the chained oracle (nested-WITH pplb CTE over
    the train CTE) reproduces the packed row set exactly, and the
    default path stays byte-identical SQL (the registered gate's hash
    cannot move)."""
    from obadiah_spark.pipelines.docquality import (
        corpus_prepare, corpus_prepare_oracle_sql)
    from obadiah_spark.pipelines.packing import PACK_SHARDS
    from obadiah_spark.pipelines.text import perplexity_buckets
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    full = corpus_prepare(docs, n_shards=PACK_SHARDS).toPandas()
    hm = corpus_prepare(docs, ppl_keep=("head", "middle"),
                        n_shards=PACK_SHARDS).toPandas()
    want = duck.execute(corpus_prepare_oracle_sql(
        ppl_keep=("head", "middle"))).df()
    assert canonicalize(hm).equals(canonicalize(want))
    # the stage is a real strict filter at this fabric, and every
    # survivor's bucket is head or middle over the train split
    assert 0 < len(set(hm.doc_id)) < len(set(full.doc_id))
    import pyspark.sql.functions as F

    train = docs.filter(F.pmod("doc_id", F.lit(20)) != 0)
    buckets = {r.doc_id: r.bucket
               for r in perplexity_buckets(train).collect()}
    assert all(buckets.get(d) in ("head", "middle")
               for d in set(hm.doc_id))
