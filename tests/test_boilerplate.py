"""CCNet-style boilerplate line removal: DuckDB value differentials on
both segmentation modes plus the semantic fixture the fabric can't
express (real newline-structured docs with a shared footer)."""

from __future__ import annotations

import hashlib

import pandas as pd

from tools.verify_local import canonicalize


def test_boilerplate_fabric_differential(spark, duck):
    """Word-window mode over the driver fabric (no newlines there):
    the planted duplicate documents share every aligned window, so the
    census fires on real rows."""
    from obadiah_spark.pipelines.docquality import (
        drop_boilerplate, drop_boilerplate_oracle_sql)

    docs = spark.table("documents").select("doc_id", "text")
    got = drop_boilerplate(docs, line_words=12).toPandas()
    want = duck.execute(drop_boilerplate_oracle_sql(line_words=12)).df()
    assert canonicalize(got).equals(canonicalize(want))
    assert len(got) == docs.count()
    # non-vacuous: the planted dups lose their shared windows
    assert got.dropped_lines.sum() > 0
    assert (got.dropped_lines == 0).sum() > 0


_FOOTER = "subscribe to our newsletter | cookie policy | contact us"
_FIXTURE = [
    (1, f"alpha article body one\nsecond unique line\n{_FOOTER}"),
    (2, f"beta article body two\n{_FOOTER}\ntrailing unique thought"),
    (3, f"{_FOOTER}"),                       # all-boilerplate doc
    (4, "gamma standalone piece\nwith two unique lines"),
    (5, ""),                                  # empty doc: zero lines
    (6, f"delta body\n\n\n{_FOOTER}"),        # blank lines ignored
]


def _frames(spark, duck):
    pdf = pd.DataFrame(_FIXTURE, columns=["doc_id", "text"])
    duck.register("bp_docs", pdf)
    return spark.createDataFrame(pdf), pdf


def test_boilerplate_newline_differential(spark, duck):
    from obadiah_spark.pipelines.docquality import (
        drop_boilerplate, drop_boilerplate_oracle_sql)

    sdf, _ = _frames(spark, duck)
    got = drop_boilerplate(sdf).toPandas()
    want = duck.execute(
        drop_boilerplate_oracle_sql(table="bp_docs")).df()
    assert canonicalize(got).equals(canonicalize(want))


def test_boilerplate_newline_semantics(spark, duck):
    from obadiah_spark.pipelines.docquality import drop_boilerplate

    sdf, _ = _frames(spark, duck)
    out = {r.doc_id: r for r in drop_boilerplate(sdf).collect()}
    empty_md5 = hashlib.md5(b"").hexdigest()
    # the shared footer (4 docs) is dropped everywhere; unique lines kept
    assert out[1].dropped_lines == 1 and out[1].n_lines == 3
    assert out[1].clean_md5 == hashlib.md5(
        b"alpha article body one\nsecond unique line").hexdigest()
    assert out[2].dropped_lines == 1
    # all-boilerplate doc coalesces to the empty rewrite
    assert out[3].n_lines == 1 and out[3].dropped_lines == 1
    assert out[3].clean_md5 == empty_md5 and out[3].clean_len == 0
    # untouched doc keeps its exact text
    assert out[4].dropped_lines == 0
    assert out[4].clean_md5 == hashlib.md5(
        b"gamma standalone piece\nwith two unique lines").hexdigest()
    # empty doc: zero lines, empty rewrite, still present
    assert out[5].n_lines == 0 and out[5].clean_md5 == empty_md5
    # blank lines are not census candidates and vanish from the rewrite
    assert out[6].n_lines == 2 and out[6].dropped_lines == 1
    assert out[6].clean_md5 == hashlib.md5(b"delta body").hexdigest()


def test_boilerplate_min_df_threshold(spark, duck):
    """min_df above the footer's document frequency keeps everything."""
    from obadiah_spark.pipelines.docquality import drop_boilerplate

    sdf, _ = _frames(spark, duck)
    out = drop_boilerplate(sdf, min_df=5).toPandas()
    assert (out.dropped_lines == 0).all()
