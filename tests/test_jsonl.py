"""JSONL document connector: lossless round-trip of the documents
table, and the quarantine contract — malformed and incomplete lines are
kept verbatim, never silently dropped, never job-fatal."""

from __future__ import annotations



def test_roundtrip_documents_table(spark, sf_dir, tmp_path):
    from obadiah_spark.session import read_table
    from obadiah_spark.sources.jsonl import (read_documents_jsonl,
                                             write_documents_jsonl)

    docs = read_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(docs, path)
    clean, quarantine = read_documents_jsonl(spark, path)
    assert quarantine.count() == 0
    got = {(r.doc_id, r.text, r.lang, r.source, r.n_chars)
           for r in clean.collect()}
    want = {(r.doc_id, r.text, r.lang, r.source, r.n_chars)
            for r in docs.collect()}
    assert got == want


def test_quarantine_keeps_garbage_and_incomplete_lines(spark, tmp_path):
    from obadiah_spark.sources.jsonl import read_documents_jsonl

    lines = [
        '{"doc_id": 1, "text": "good document one"}',
        'this is not json at all {{{',
        '{"doc_id": 2}',                      # parses, missing text
        '{"text": "no id"}',                  # parses, missing doc_id
        '{"doc_id": 3, "text": "good two", "lang": "en"}',
        '{"doc_id": "not-a-number", "text": "bad type"}',
    ]
    src = tmp_path / "mixed.jsonl"
    src.write_text("\n".join(lines) + "\n")
    clean, quarantine = read_documents_jsonl(spark, str(src))
    kept = {r.doc_id for r in clean.collect()}
    assert kept == {1, 3}
    q = [r.raw for r in quarantine.collect()]
    # every bad line is present and actionable (4 = 6 - 2 clean)
    assert len(q) == 4
    assert any("not json at all" in r for r in q)
    assert any('"not-a-number"' in r for r in q)
    # the parsed-but-incomplete lines survive VERBATIM (ADVICE r12 #2):
    # byte-for-byte the original lines, not a re-serialized projection
    assert set(q) == {lines[1], lines[2], lines[3], lines[5]}


def test_quarantine_preserves_extra_fields_verbatim(spark, tmp_path):
    """A valid line missing a required field keeps fields OUTSIDE the
    declared schema — the original line is recoverable from the
    quarantine (the r12 advice: to_json over the declared struct
    dropped them)."""
    from obadiah_spark.sources.jsonl import read_documents_jsonl

    line = ('{"text": "no id here", "url": "https://example.com/x", '
            '"crawl_ts": 1718000000}')
    src = tmp_path / "extra.jsonl"
    src.write_text(line + "\n")
    clean, quarantine = read_documents_jsonl(spark, str(src))
    assert clean.count() == 0
    assert [r.raw for r in quarantine.collect()] == [line]


def test_reader_cache_opt_out(spark, tmp_path):
    """cache=False parses per materialization and pins no storage —
    same rows either way."""
    from obadiah_spark.sources.jsonl import read_documents_jsonl

    src = tmp_path / "two.jsonl"
    src.write_text('{"doc_id": 1, "text": "a"}\nnot json\n')
    c1, q1 = read_documents_jsonl(spark, str(src), cache=True)
    c2, q2 = read_documents_jsonl(spark, str(src), cache=False)
    assert ({r.doc_id for r in c1.collect()}
            == {r.doc_id for r in c2.collect()} == {1})
    assert ([r.raw for r in q1.collect()]
            == [r.raw for r in q2.collect()] == ["not json"])
