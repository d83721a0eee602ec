"""Benchmark decontamination + NB quality classifier: hand-computed
pins on tiny fabrics and value-level DuckDB differentials over the
gate oracles."""

from __future__ import annotations

from tools.verify_local import canonicalize


def _mini_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_shared_ngrams(spark):
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.decontam import decontaminate

    bench = _mini_docs(spark, [(0, "alpha beta gamma delta epsilon")])
    train = _mini_docs(spark, [
        # shares "beta gamma delta" (the 3-gram) once
        (1, "x beta gamma delta y"),
        # clean: no 3-gram overlap despite shared single words
        (2, "beta x gamma y delta"),
        # shares two distinct overlapping 3-grams
        (3, "alpha beta gamma delta"),
        # shorter than n: structurally clean
        (4, "alpha beta"),
    ])
    out = {r.doc_id: r for r in decontaminate(train, bench, n=3).collect()}
    assert len(out) == 4
    assert (out[1].n_hits, out[1].contaminated) == (1, True)
    assert out[1].first_hit == "beta gamma delta"
    assert (out[2].n_hits, out[2].contaminated, out[2].first_hit) == (
        0, False, None)
    assert (out[3].n_hits, out[3].contaminated) == (2, True)
    assert out[3].first_hit == "alpha beta gamma"  # lexicographic min
    assert (out[4].n_hits, out[4].contaminated) == (0, False)
    # the equi-join path must agree with the broadcast default
    out2 = {r.doc_id: r.n_hits for r in decontaminate(
        train, bench, n=3, broadcast_bench=False).collect()}
    assert out2 == {k: v.n_hits for k, v in out.items()}


def test_decontaminate_duckdb_differential(spark, sf_dir, duck):
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.decontam import (decontaminate,
                                                  decontaminate_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    pm = ((F.col("doc_id") % 20) + 20) % 20
    got = decontaminate(docs.filter(pm != 0), docs.filter(pm == 0),
                        n=4).toPandas()
    want = duck.execute(decontaminate_oracle_sql(4)).df()
    assert canonicalize(got).equals(canonicalize(want))
    # non-vacuous on the fabric: both flagged and clean docs exist
    assert 0 < int(got.contaminated.sum()) < len(got)


def test_classifier_hand_computed_weights(spark):
    from obadiah_spark.pipelines.classifier import quality_classifier

    # two docs per class over a 3-word vocabulary; weights by hand:
    #   instances: pos: good good nice | ok       neg: bad bad | ok ok
    #   T_pos=4, T_neg=4 → bits(5)=2 both; prior n_pos=n_neg=2 → 0
    #   wt(good)=bits(3)-2-(bits(1)-2)=2-2-(0-2)=2
    #   wt(nice)=bits(2)-2-(0-2)=1    wt(ok)=bits(2)-2-(bits(3)-2)=1-2=-1
    #   wt(bad)=0-2-(bits(3)-2)=-2-0= -2  → bits(1)=0, bits(3)=1 → -2+1...
    # (asserted numerically below, not re-derived in the comment)
    docs = _mini_docs(spark, [
        (1, "good good nice"), (2, "ok"),
        (3, "bad bad"), (4, "ok ok"),
    ])
    labels = spark.createDataFrame(
        [(1, True), (2, True), (3, False), (4, False)],
        "doc_id long, label boolean")
    out = {r.doc_id: r for r in
           quality_classifier(docs, labels=labels).collect()}

    def bits(x):
        return (x + 1).bit_length() - 1

    wt = {
        "good": (bits(2) - bits(4)) - (bits(0) - bits(4)),
        "nice": (bits(1) - bits(4)) - (bits(0) - bits(4)),
        "ok": (bits(1) - bits(4)) - (bits(2) - bits(4)),
        "bad": (bits(0) - bits(4)) - (bits(2) - bits(4)),
    }
    prior = bits(2) - bits(2)
    exp = {
        1: prior + 2 * wt["good"] + wt["nice"],
        2: prior + wt["ok"],
        3: prior + 2 * wt["bad"],
        4: prior + 2 * wt["ok"],
    }
    for d, m in exp.items():
        assert out[d].margin_bits == m, (d, out[d].margin_bits, m)
        assert out[d].predicted == (m > 0)
    assert out[1].n_tokens == 3 and out[4].n_tokens == 2


def test_classifier_duckdb_differential_and_signal(spark, sf_dir, duck):
    from obadiah_spark.pipelines.classifier import (
        quality_classifier, quality_classifier_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = quality_classifier(docs).toPandas()
    want = duck.execute(quality_classifier_oracle_sql()).df()
    assert canonicalize(got).equals(canonicalize(want))
    # the distilled model must beat chance on its training labels and
    # predict BOTH classes (non-degenerate gate fabric)
    agree = float((got.predicted == got.label).mean())
    assert agree > 0.6, agree
    assert 0 < int(got.predicted.sum()) < len(got)
