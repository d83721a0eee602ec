"""Language-ID + regex-tokenizer behavior tests. Oracle differentials run
in the driver gate (lang_id_ngram / tokenize_regex keys); here we check
what the gate can't — that the classifier is *right* on real multilingual
prose (the synthetic corpus text carries no language signal), and that the
tokenizer's splits behave like a BPE pre-tokenizer on punctuation, digits,
and mixed content."""

from __future__ import annotations

from obadiah_spark.pipelines.langid import (
    LANGS,
    PROFILE_K,
    PROFILES,
    lang_id_ngram,
)
from obadiah_spark.pipelines.tokenize import tokenize_regex

# Real prose held OUT of the profile samples — different sentences, same
# languages. The classifier must label each correctly with a clear margin.
_HELDOUT = {
    "en": "yesterday the old man walked along the river and watched the "
          "boats while he thought about everything that had happened "
          "during the long winter and what he would tell his family",
    "de": "gestern ging der alte mann am fluss entlang und beobachtete "
          "die boote während er über alles nachdachte was während des "
          "langen winters geschehen war und was er seiner familie "
          "erzählen würde",
    "fr": "hier le vieil homme marchait le long de la rivière et "
          "regardait les bateaux pendant qu'il pensait à tout ce qui "
          "s'était passé pendant le long hiver et à ce qu'il dirait à "
          "sa famille",
    "es": "ayer el anciano caminaba junto al río y miraba los barcos "
          "mientras pensaba en todo lo que había pasado durante el "
          "largo invierno y en lo que le diría a su familia",
    "zh": "昨天老人沿着河边散步看着船只同时想着漫长冬天里发生的一切以及"
          "他要告诉家人的事情",
}


def test_profiles_are_well_formed():
    for lang in LANGS:
        rows = [(t, r) for (l, t, r) in PROFILES if l == lang]
        ranks = sorted(r for _, r in rows)
        assert ranks == list(range(1, len(rows) + 1)), lang
        assert len(rows) <= PROFILE_K
        assert len({t for t, _ in rows}) == len(rows), f"dup trigram: {lang}"


def test_langid_classifies_heldout_prose(spark):
    docs = spark.createDataFrame(
        [(i, text) for i, (_, text) in enumerate(sorted(_HELDOUT.items()))],
        "doc_id bigint, text string")
    got = {r.doc_id: r for r in lang_id_ngram(docs).collect()}
    expected = sorted(_HELDOUT)
    assert len(got) == len(expected)
    for i, lang in enumerate(expected):
        row = got[i]
        assert row.lang_pred == lang, f"{lang}: predicted {row.lang_pred}"
        # the winner must win by a real margin, not a tiebreak
        assert row.second_score > row.best_score, lang


def test_langid_prefix_cap_bounds_work(spark):
    """A document longer than PREFIX_CAP classifies from its prefix only —
    appending garbage past the cap cannot change the result (the O(1)
    per-doc cost claim)."""
    base = _HELDOUT["fr"] * 20  # well past PREFIX_CAP
    noisy = base + "qqq xxx zzz " * 500
    docs = spark.createDataFrame(
        [(0, base), (1, noisy)], "doc_id bigint, text string")
    rows = {r.doc_id: r for r in lang_id_ngram(docs).collect()}
    assert rows[0].lang_pred == rows[1].lang_pred == "fr"
    assert rows[0].best_score == rows[1].best_score


def test_tokenize_regex_splits_like_a_pretokenizer(spark):
    docs = spark.createDataFrame(
        [(0, "hello world"),
         (1, "it's 2026: pi=3.14, right?"),
         (2, "a---b  c"),
         (3, "  spaced   out  ")],
        "doc_id bigint, text string")
    rows = {r.doc_id: r for r in tokenize_regex(docs).collect()}
    # "hello world" -> ["hello", " world"]
    assert rows[0].bpe_token_count == 2
    assert rows[0].ws_token_count == 2
    assert rows[0].bpe_char_sum == len("hello world")
    # "it's 2026: pi=3.14, right?" ->
    # [it][']['s][ 2026][:][ pi][=][3][.][14][,][ right][?]  (13 pieces)
    assert rows[1].bpe_token_count == 13
    # "a---b  c" normalizes to "a---b c" -> [a][---][b][ c]
    assert rows[2].bpe_token_count == 4
    assert rows[2].ws_token_count == 2
    # normalization trims + collapses runs -> "spaced out"
    assert rows[3].ws_token_count == 2
    assert rows[3].bpe_char_sum == len("spaced out")


def test_tokenize_regex_char_coverage(spark):
    """The pre-tokenizer loses no characters: the pieces concatenate back
    to the normalized text, so bpe_char_sum == normalized length."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.tokenize import _norm_expr

    docs = spark.table("documents")
    norm = docs.select(
        "doc_id", F.length(_norm_expr(F.col("text"))).alias("n_norm"))
    bad = (tokenize_regex(docs).join(norm, "doc_id")
           .where("bpe_char_sum <> n_norm")
           .count())
    assert bad == 0


def test_tfidf_top_terms_planted_keywords(spark):
    """A term frequent in ONE doc but rare corpus-wide must outrank terms
    that are equally frequent in the doc but common everywhere — the
    defining TF-IDF property, here via the (tf DESC, df ASC, term)
    ordering."""
    from obadiah_spark.pipelines.text import tfidf_top_terms

    common = "alpha beta gamma"
    docs = spark.createDataFrame(
        [(0, f"zyzzyva zyzzyva {common} {common}"),
         (1, f"{common} {common} {common}"),
         (2, f"{common} quokka quokka {common}")],
        "doc_id bigint, text string")
    rows = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.tf, r.df))
    assert sorted(by_doc[0])[0][1] == "zyzzyva"   # tf=2, df=1 wins
    assert sorted(by_doc[2])[0][1] == "quokka"
    # doc 1 has only common terms: rank-1 is the lexicographically first
    # of the equal-(tf, df) trio
    assert sorted(by_doc[1])[0][1] == "alpha"
