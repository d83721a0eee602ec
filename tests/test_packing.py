"""Sequence packing: hand-computed next-fit boundaries, overflow
handling, shard independence, and budget-sweep sanity."""

from __future__ import annotations



def _pack(spark, rows, **kw):
    from obadiah_spark.pipelines.packing import pack_sequences

    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = pack_sequences(docs, **kw).collect()
    return {r.doc_id: (r.shard, r.seq_no, r.offset, r.n_tokens,
                       r.overflow) for r in out}


def test_next_fit_hand_computed(spark):
    """One shard, budget 10: docs of 4/5/3/10/2/11 tokens must pack as
    [4,5][3][10][2... wait — next-fit: 4+5=9 fits, +3 > 10 closes;
    3+10 > 10 closes; 10 fills seq 3 exactly; 2 opens seq 4; 11
    overflows into its own seq 5."""
    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [(0, words(4)), (8, words(5)), (16, words(3)),
            (24, words(10)), (32, words(2)), (40, words(11))]
    got = _pack(spark, rows, budget=10, n_shards=8)
    assert got[0] == (0, 1, 0, 4, False)
    assert got[8] == (0, 1, 4, 5, False)     # appended at offset 4
    assert got[16] == (0, 2, 0, 3, False)    # 9+3 > 10: new sequence
    assert got[24] == (0, 3, 0, 10, False)   # 3+10 > 10: new, exact fit
    assert got[32] == (0, 4, 0, 2, False)    # 10+2 > 10: new
    assert got[40] == (0, 5, 0, 11, True)    # > budget: own seq, flagged


def test_shards_pack_independently(spark):
    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [(i, words(6)) for i in range(8)]
    got = _pack(spark, rows, budget=12, n_shards=4)
    # shard k holds docs k and k+4: 6+6 = 12 fits exactly in one seq
    for k in range(4):
        assert got[k] == (k, 1, 0, 6, False)
        assert got[k + 4] == (k, 1, 6, 6, False)


def test_blank_and_whitespace_docs_count_zero(spark):
    rows = [(0, "a b c"), (8, "   "), (16, "\t\n")]
    got = _pack(spark, rows, budget=4, n_shards=8)
    assert got[0] == (0, 1, 0, 3, False)
    assert got[8] == (0, 1, 3, 0, False)     # zero tokens ride along
    assert got[16] == (0, 1, 3, 0, False)


def test_auto_shard_rule_scales_with_corpus(spark, monkeypatch):
    """n_shards=None derives ceil(n_docs / PACK_DOCS_PER_SHARD): the
    shard count grows with the corpus (parallelism) while per-shard
    group size stays ~PACK_DOCS_PER_SHARD (fold memory flat)."""
    import obadiah_spark.pipelines.packing as packing

    rows = [(i, "a b c") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    monkeypatch.setattr(packing, "PACK_DOCS_PER_SHARD", 4)
    out = packing.pack_sequences(docs, budget=4).toPandas()
    # ceil(10 / 4) = 3 shards, shard = pmod(doc_id, 3)
    assert set(out["shard"]) == {0, 1, 2}
    assert out.groupby("shard").size().max() <= 4
    # explicit n_shards still wins (the gate pin)
    pinned = packing.pack_sequences(docs, budget=4, n_shards=8).toPandas()
    assert set(pinned["shard"]) == set(range(8))


def test_budget_sweep_total_tokens_conserved(spark, sf_dir):
    """On the real fabric: every doc appears once, per-(shard, seq) fill
    never exceeds the budget except single-doc overflow sequences, and
    token totals are conserved across budgets."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.packing import pack_sequences
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    totals = set()
    for budget in (64, 256):
        out = pack_sequences(docs, budget=budget)
        assert out.count() == n_docs
        fills = (out.groupBy("shard", "seq_no")
                 .agg(F.sum("n_tokens").alias("fill"),
                      F.count(F.lit(1)).alias("n"),
                      F.max("overflow").alias("ov")).collect())
        for r in fills:
            assert r.fill <= budget or (r.n == 1 and r.ov)
        totals.add(out.agg(F.sum("n_tokens")).collect()[0][0])
    assert len(totals) == 1  # counter independent of packing budget


def test_shuffle_sequences_is_a_permutation_and_deterministic(spark, sf_dir):
    """Every packed sequence gets exactly one (out_shard, out_pos) slot;
    positions are contiguous 1..n per out shard; a rerun reproduces the
    identical layout and a different salt gives a different order."""
    from obadiah_spark.pipelines.packing import (
        PACK_SHARDS, pack_sequences, shuffle_sequences)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_sequences(docs, n_shards=PACK_SHARDS).localCheckpoint()
    a = shuffle_sequences(packed).toPandas()
    n_seqs = packed.select("shard", "seq_no").distinct().count()
    assert len(a) == n_seqs
    # one slot per sequence, contiguous per out shard
    assert not a.duplicated(["out_shard", "out_pos"]).any()
    for _, g in a.groupby("out_shard"):
        assert sorted(g["out_pos"]) == list(range(1, len(g) + 1))
    # deterministic
    b = shuffle_sequences(packed).toPandas()
    key = ["shard", "seq_no"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True))
    # a different salt reorders (independent epoch order)
    c = shuffle_sequences(packed, salt="epoch2").toPandas()
    merged = a.merge(c, on=key, suffixes=("_a", "_c"))
    assert (merged["out_pos_a"] != merged["out_pos_c"]).any()
    # order is uncorrelated with the ingest key: within some out shard,
    # consecutive positions come from non-consecutive sequences
    g = a[a["out_shard"] == a["out_shard"].iloc[0]].sort_values("out_pos")
    assert (g["seq_no"].diff().dropna() != 1).any()


def test_shuffle_sequences_duckdb_oracle_matches(spark, sf_dir):
    """Value-level cross-engine differential for the shuffle layout."""
    import os

    import duckdb

    from obadiah_spark.pipelines.packing import (
        PACK_SHARDS, pack_sequences, shuffle_sequences,
        shuffle_sequences_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {tuple(r) for r in shuffle_sequences(
        pack_sequences(docs, n_shards=PACK_SHARDS)).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')")
    want = {tuple(r) for r in con.execute(
        shuffle_sequences_oracle_sql()).fetchall()}
    assert got == want and got
