"""Property-based check of dup_spans' min_span mode against a
brute-force pure-Python reference: for adversarial tiny corpora the
Spark islands chain (running-max interval union over duplicated-gram
starts + the span-length filter) must mark exactly the positions a
direct recomputation marks.  Extends the fixture tests with
randomized coverage of overlap/adjacency/boundary cases the hand
fabrics cannot enumerate.

One Spark round-trip per example is slow, so the strategy generates a
BATCH of documents per example and hypothesis runs a modest number of
examples; the brute force is exact, not a model."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# tiny vocabulary maximizes cross-document gram collisions
word = st.sampled_from(["aa", "bb", "cc", "dd"])
doc = st.lists(word, min_size=0, max_size=12)
corpus = st.lists(doc, min_size=2, max_size=5)


def _brute_marks(docs: list[list[str]], n: int, min_count: int,
                 min_span: int) -> dict[int, set[int]]:
    """doc index -> positions removed, recomputed directly: count every
    n-gram corpus-wide, take per-doc duplicated-gram coverage as a
    position set, split it into maximal runs of consecutive positions,
    keep runs of length >= min_span."""
    grams = Counter()
    for d in docs:
        for i in range(len(d) - n + 1):
            grams[tuple(d[i:i + n])] += 1
    out: dict[int, set[int]] = {}
    for di, d in enumerate(docs):
        covered = set()
        for i in range(len(d) - n + 1):
            if grams[tuple(d[i:i + n])] >= min_count:
                covered.update(range(i, i + n))
        kept: set[int] = set()
        run: list[int] = []
        for p in sorted(covered) + [10 ** 9]:
            if run and p != run[-1] + 1:
                if len(run) >= min_span:
                    kept.update(run)
                run = []
            run.append(p)
        out[di] = kept
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus=corpus, n=st.integers(2, 3), min_span=st.integers(2, 7))
def test_min_span_marks_equal_brute_force(spark, corpus, n, min_span):
    from obadiah_spark.pipelines.docquality import dup_spans

    docs = [(i, " ".join(d)) for i, d in enumerate(corpus)]
    rows = dup_spans(
        spark.createDataFrame(docs, "doc_id long, text string"),
        n=n, min_count=2, min_span=min_span).collect()
    want = _brute_marks(corpus, n, 2, min_span)
    # dup_words per doc is |marked positions|; docs with no token drop
    got = {r.doc_id: r.dup_words for r in rows}
    expected = {di: len(ps) for di, ps in want.items() if corpus[di]}
    assert got == expected
