"""sf1-scale probe of the fold family (VERDICT r5 #8): turn SCALE.md's
extrapolations into measurements at ~10× the bench scale.

There is no driver-generated sf1 testdata, so the probe builds one from the
sf0.1 log by TIME-SHIFTED REPLICATION: k = 0..9 copies of the level3 log,
each shifted by k × (span + 1 day) so every replica lands in its own eras —
exactly how a longer capture history grows (more eras/periods of the same
density, the axis `period_fold` parallelizes on). Timestamp columns and
`era` shift together; `event_id` is offset per replica so it stays unique.
This is a PERFORMANCE fabric only — correctness is the sf0.01 oracle
gate's job.

Both scales run the same cold-silver path (parquet read, no session cache —
the 100 TB shape): the period folds (queues, depth_summary,
trading_period, spread via level1 period fold) and the point-in-time
probes (full-scan vs checkpoint). Prints one JSON line with per-op timings
at 1× and 10× plus the scaling exponent log10(t10/t1) — 1.0 means linear.

Usage:  python tools/scale_probe.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TS_COLS = ("microtimestamp", "next_microtimestamp", "price_microtimestamp",
           "local_timestamp", "era")


def _timed(out: dict, name: str, fn) -> None:
    t0 = time.perf_counter()
    n = fn()
    out[name] = round(time.perf_counter() - t0, 2)
    print(f"# {name}: {out[name]:.2f}s rows={n}", file=sys.stderr)


def _replicate(df, id_col: str, reps: int, salt_fn=None):
    """k copies with ``id_col`` offset per replica (ids stay unique);
    ``salt_fn(df, k)`` optionally perturbs each non-zero replica."""
    from pyspark.sql import functions as F

    parts = []
    for k in range(reps):
        rep = df.withColumn(
            id_col, (F.col(id_col) + F.lit(k) * F.lit(1 << 32)).cast("long"))
        if k and salt_fn is not None:
            rep = salt_fn(rep, k)
        parts.append(rep)
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    return big


def build_replicated(spark, sf_dir: str, work: str, reps: int) -> str:
    from pyspark.sql import functions as F

    from obadiah_spark.synth import register_level3
    from obadiah_spark.sources.silver import write_level3

    path = os.path.join(work, f"level3_x{reps}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    l3 = register_level3(spark, sf_dir).cache()
    lo, hi = l3.agg(F.min("microtimestamp"), F.max("microtimestamp")).first()
    span_us = int((hi - lo).total_seconds() * 1_000_000) + 86_400_000_000
    parts = []
    for k in range(reps):
        off = k * span_us
        rep = l3
        for c in TS_COLS:
            rep = rep.withColumn(
                c, F.timestamp_micros(F.unix_micros(F.col(c)) + F.lit(off)))
        rep = rep.withColumn(
            "event_id", (F.col("event_id") + F.lit(k) * F.lit(1 << 40))
            .cast("long"))
        parts.append(rep)
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    write_level3(big, path)
    l3.unpersist()
    return path


def build_ckpt(spark, l3_path: str, work: str, tag: str) -> str:
    from obadiah_spark.fold import book_checkpoints
    from obadiah_spark.sources.silver import (
        read_level3, write_checkpoints, write_era_registry)

    path = os.path.join(work, f"ckpt_{tag}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    l3 = read_level3(spark, l3_path)
    t0 = time.perf_counter()
    write_checkpoints(book_checkpoints(l3, 86400, use_cache=False), path)
    write_era_registry(l3, path)
    print(f"# ckpt build {tag}: {time.perf_counter()-t0:.2f}s",
          file=sys.stderr)
    return path


def probe(spark, l3_path: str, ckpt_path: str, at: str) -> dict[str, float]:
    """Cold-silver fold family + point-in-time probes, one timing dict."""
    from obadiah_spark.fold import seed_checkpoint_cache, spread_fold
    from obadiah_spark.operators.depth import depth_summary_fold
    from obadiah_spark.operators.order_book import (
        order_book, snapshot_from_silver)
    from obadiah_spark.operators.resample import queues
    from obadiah_spark.operators.trading import trading_period_fold
    from obadiah_spark.sources.silver import read_checkpoints, read_level3

    out: dict[str, float] = {}
    l3 = read_level3(spark, l3_path)
    # seed the in-session checkpoint cache from the silver table (the
    # period folds consume it; same lifecycle as __spark_entry__._ckpt_silver)
    seed_checkpoint_cache(l3, 86400, read_checkpoints(spark, ckpt_path))

    def timed(name, fn):
        _timed(out, name, fn)

    timed("queues", lambda: queues(l3).count())
    timed("depth_chains", lambda: _depth_chains(l3).count())
    timed("depth_summary", lambda: depth_summary_fold(l3).count())
    # range overload: a fixed window inside replica 0 — must stay FLAT as
    # history grows (pruned periods + partition pruning)
    timed("depth_summary_range",
          lambda: depth_summary_fold(
              l3, start="2024-01-09 00:00:00",
              end="2024-01-13 00:00:00").count())
    timed("trading_period", lambda: trading_period_fold(l3).count())
    timed("spread_fold", lambda: spread_fold(l3).count())
    timed("order_book_cold",
          lambda: order_book(l3, at).count())
    timed("order_book_ckpt_cold",
          lambda: order_book(
              l3, at,
              live=snapshot_from_silver(l3, ckpt_path, at,
                                        only_makers=True)).count())
    timed("match_sweep", lambda: _match_sweep(l3).count())
    return out


def _depth_chains(l3):
    """D10 over the probe silver (r11: the fold output is checkpointed
    once before the key-rank + join — this probe measures that shape at
    10x history)."""
    from obadiah_spark.operators.depth_chains import depth_changes_with_chains

    return depth_changes_with_chains(l3)


def _match_sweep(l3):
    """The gate's trimmed bitstamp pga_match sweep over the probe silver:
    inferred closed-loop trades (links forgotten, amounts bucket-perturbed
    so all three tolerance cells are productive), 3 tolerances x 2 offsets.
    Full-stream operator — expect exponent ~1 in events, dominated by the
    one lead-window select that builds both offsets' candidate pairs."""
    from pyspark.sql import functions as F

    from obadiah_spark.operators.lifecycle import bitstamp_match_sweep
    from obadiah_spark.operators.matching import inferred_trades

    t = inferred_trades(l3).select(
        "pair_id",
        F.date_trunc("week", "microtimestamp").alias("era"),
        (F.col("buy_order_id").cast("bigint") * 1000000000000
         + F.col("buy_event_no").cast("bigint") * 100000000
         + F.col("sell_order_id").cast("bigint") * 10000
         + F.col("sell_event_no").cast("bigint")).alias("exchange_trade_id"),
        F.col("microtimestamp").alias("trade_microtimestamp"),
        "amount", "price",
        F.col("side").alias("trade_type"),
        "buy_order_id", "sell_order_id",
    )
    b = F.col("exchange_trade_id") % 3
    t = t.withColumn(
        "amount",
        F.col("amount") + F.when(b == 1, F.lit(0.001))
                           .when(b == 2, F.lit(0.1))
                           .otherwise(F.lit(0.0)))
    return bitstamp_match_sweep(l3, t, tolerances=(0.0001, 0.01, 1.0),
                                max_offset=2)


def build_docs(spark, sf_dir: str, work: str, reps: int) -> str:
    """Replicated documents table for the dedup/text-family probe: k
    copies with doc_id offset, each non-zero replica passed through a
    per-replica CHARACTER BIJECTION (alphabet rotated by k via
    ``translate``). A bijection on characters maps every n-gram set 1:1,
    so within-replica similarity structure is preserved EXACTLY while
    cross-replica similarity collapses to ~0 — the same decorrelation
    the ANN fabric got via circular shifts in late r8. (The pre-r11
    fabric appended a short salt instead; replicas stayed NEAR-DUPLICATES
    of each other, so every original dup cluster became a cross-replica
    quasi-clique — measured 590 -> 275k jaccard edges at 10x, a
    467x edge blow-up that made `dup_clusters` look superlinear when it
    is edge-output-bound.)"""
    from pyspark.sql import functions as F

    path = os.path.join(work, f"documents_x{reps}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def salt(df, k):
        rot = alpha[k:] + alpha[:k]
        return df.withColumn(
            "text", F.translate("text", alpha + alpha.upper(),
                                rot + rot.upper()))

    _replicate(docs, "doc_id", reps, salt).write.mode(
        "overwrite").parquet(path)
    return path


def probe_docs(spark, docs_path: str) -> dict[str, float]:
    """Dedup/text family over a documents table read cold from parquet."""
    from obadiah_spark.pipelines import dedup
    from obadiah_spark.pipelines.text import text_stats, winnow_fingerprints

    docs = spark.read.parquet(docs_path)
    out: dict[str, float] = {}

    def timed(name, fn):
        _timed(out, name, fn)

    # force the computed column through an aggregate: a bare count() lets
    # Catalyst prune map-side projections entirely (the winnow probe was
    # timing a naked scan — round-8 finding), so each probe consumes one
    # column that transitively needs the operator's real work
    from pyspark.sql import functions as F

    timed("exact_dedup", lambda: dedup.exact_dedup(docs).count())
    timed("dup_clusters", lambda: dedup.dup_clusters(docs).count())
    timed("minhash_lsh_candidates",
          lambda: dedup.minhash_lsh_candidates(docs).count())
    timed("simhash", lambda: dedup.simhash(docs)
          .agg(F.max("simhash")).collect())
    timed("text_stats", lambda: text_stats(docs)
          .agg(F.max("quality_score"), F.max("fingerprint")).collect())
    timed("winnow_fingerprints", lambda: winnow_fingerprints(docs)
          .agg(F.max("fp_hash")).collect())
    # round-9 additions: language ID (two keyed shuffles), the regex
    # pre-tokenizer (pure map), and the codec gates (mapInPandas, no
    # shuffle — their exponent measures Python decode throughput)
    from obadiah_spark.pipelines.audio import wav_roundtrip
    from obadiah_spark.pipelines.langid import lang_id_ngram
    from obadiah_spark.pipelines.multimodal import jpeg_roundtrip
    from obadiah_spark.pipelines.tokenize import tokenize_regex
    from obadiah_spark.pipelines.video import mjpeg_sample

    timed("lang_id_ngram", lambda: lang_id_ngram(docs)
          .agg(F.max("best_score")).collect())
    timed("tokenize_regex", lambda: tokenize_regex(docs)
          .agg(F.max("bpe_token_count")).collect())
    timed("jpeg_roundtrip", lambda: jpeg_roundtrip(docs)
          .agg(F.max("px_md5")).collect())
    timed("wav_roundtrip", lambda: wav_roundtrip(docs)
          .agg(F.max("sum_sq")).collect())
    timed("mjpeg_sample", lambda: mjpeg_sample(docs)
          .agg(F.max("px_md5")).collect())
    from obadiah_spark.pipelines.text import tfidf_top_terms

    timed("tfidf_top_terms", lambda: tfidf_top_terms(docs)
          .agg(F.max("term"), F.max("df")).collect())
    # round-11 additions: the Gopher rule family (posexplode + doc-keyed
    # aggs + two gram groupBys) and PII redaction (pure map — its
    # exponent measures JVM regex throughput)
    from obadiah_spark.pipelines.docquality import gopher_quality, pii_gate_frame

    timed("gopher_quality", lambda: gopher_quality(docs)
          .agg(F.max("top_2gram_char_frac"), F.sum("n_words")).collect())
    timed("pii_scrub", lambda: pii_gate_frame(docs)
          .agg(F.max("redacted_md5"), F.sum("n_ips")).collect())
    # the 5-codec round-trip (BMP/PPM/PNG/GIF since r11, +WebP VP8L r12
    # — the GIF LZW and VP8L transform legs ride inside this line)
    from obadiah_spark.pipelines.multimodal import codec_roundtrip

    timed("codec_roundtrip", lambda: codec_roundtrip(docs)
          .agg(F.max("px_md5")).collect())
    # round-12 addition: corpus-wide duplicate-span removal — ONE
    # global gram-keyed groupBy; its exponent is the cost story for the
    # ExactSubstr-style dedup at growing corpus size
    from obadiah_spark.pipelines.docquality import dup_spans

    timed("dup_spans", lambda: dup_spans(docs)
          .agg(F.max("clean_md5"), F.sum("dup_chars")).collect())
    # round-12 additions: decontamination (broadcast bench-gram join —
    # bench side held at 1× size while the corpus grows, the realistic
    # regime), the NB quality classifier (train + score: one word-keyed
    # and two doc-keyed shuffles), the perplexity-filter signal (one
    # gram-keyed groupBy), and BPE encode (merge loop over the DISTINCT
    # vocabulary only — its exponent measures how vocabulary growth,
    # not corpus growth, drives tokenizer cost)
    from pyspark.sql import functions as FF

    from obadiah_spark.pipelines.bpe import bpe_encode, bpe_train
    from obadiah_spark.pipelines.classifier import quality_classifier
    from obadiah_spark.pipelines.decontam import decontaminate
    from obadiah_spark.pipelines.text import bigram_rarity

    pm = ((FF.col("doc_id") % 20) + 20) % 20
    bench = docs.filter(pm == 0).limit(500)  # eval sets don't scale
    timed("decontaminate",
          lambda: decontaminate(docs.filter(pm != 0), bench, n=4)
          .agg(F.sum("n_hits"), F.max("first_hit")).collect())
    timed("quality_classifier", lambda: quality_classifier(docs)
          .agg(F.sum("margin_bits"), F.sum("n_tokens")).collect())
    timed("bigram_rarity", lambda: bigram_rarity(docs)
          .agg(F.sum("rarity_bits"), F.max("max_bits")).collect())
    merges = bpe_train(docs, 32)
    timed("bpe_encode", lambda: bpe_encode(docs, merges)
          .agg(F.sum("n_tokens"), F.max("enc_md5")).collect())
    # the end-to-end compositions: packing alone (one shard-keyed
    # shuffle + per-shard fold) and the full prepare pass (dedup ∘
    # gopher ∘ decontam ∘ scrub ∘ pack over one checkpointed scan)
    from obadiah_spark.pipelines.docquality import corpus_prepare
    from obadiah_spark.pipelines.packing import pack_sequences

    timed("pack_sequences", lambda: pack_sequences(docs)
          .agg(F.max("seq_no"), F.sum("n_tokens")).collect())
    # r13: the auto-shard rule under a probe-sized PACK_DOCS_PER_SHARD —
    # shard count must grow ~linearly with the corpus while the LARGEST
    # per-shard pandas group stays ~flat (the fold-memory bound VERDICT
    # r12 what's-wrong #4 asked to demonstrate)
    import obadiah_spark.pipelines.packing as packing_mod

    saved = packing_mod.PACK_DOCS_PER_SHARD
    packing_mod.PACK_DOCS_PER_SHARD = 500
    try:
        def _autoshard():
            stats = (pack_sequences(docs)
                     .groupBy("shard").count()
                     .agg(F.countDistinct("shard").alias("n_shards"),
                          F.max("count").alias("max_group")).collect()[0])
            out["pack_autoshard_n_shards"] = float(stats["n_shards"])
            out["pack_autoshard_max_group"] = float(stats["max_group"])
            return int(stats["n_shards"])

        timed("pack_autoshard", _autoshard)
    finally:
        packing_mod.PACK_DOCS_PER_SHARD = saved
    timed("corpus_prepare", lambda: corpus_prepare(docs)
          .agg(F.max("seq_no"), F.sum("n_tokens"),
               F.max("redacted_md5")).collect())
    return out


def build_embs(spark, sf_dir: str, work: str, reps: int) -> str:
    """Replicated embeddings for the ANN probe: vec_id offset per replica,
    and each non-zero replica's vectors circularly SHIFTED by k positions —
    norm-preserving, but it decorrelates the replica from the original so
    sign-LSH buckets and IVF cells spread the way a genuinely larger
    corpus would. (Verbatim repetition — the pre-r8 probe — collapses
    every replica into the same buckets, which turns the in-bucket join
    quadratic by construction and overstates the exponent: 0.72 measured
    pathological vs the spread form's realistic growth.)"""
    from pyspark.sql import functions as F

    path = os.path.join(work, f"embeddings_x{reps}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    def shift(df, k):
        n = F.size("embedding")
        return df.withColumn(
            "embedding",
            F.concat(F.slice("embedding", F.lit(k % 16) + 1, n),
                     F.slice("embedding", 1, F.lit(k % 16))))

    _replicate(emb, "vec_id", reps, shift).write.mode(
        "overwrite").parquet(path)
    return path


def probe_embs(spark, emb_path: str) -> dict[str, float]:
    """ANN family over an embeddings table read cold from parquet. The
    brute-force form is deliberately absent — it is the O(n·q) baseline the
    scale paths exist to avoid."""
    from obadiah_spark.pipelines.similarity import (
        ann_ivf, ann_lsh_pairs, train_ivf_codebook)

    emb = spark.read.parquet(emb_path)
    out: dict[str, float] = {}

    def timed(name, fn):
        _timed(out, name, fn)

    timed("ann_lsh_pairs", lambda: ann_lsh_pairs(emb).count())
    # the production split (round 8): train ONCE on the capped sample,
    # then search against the materialized broadcast codebook — the
    # search exponent is the scale story, training should be ~flat
    cb: dict = {}
    timed("ann_ivf_train", lambda: cb.setdefault(
        "cb", train_ivf_codebook(emb)).count())
    timed("ann_ivf_search", lambda: ann_ivf(emb, codebook=cb["cb"]).count())
    return out


def build_clustered_embs(spark, work: str, n: int, n_clusters: int = 32,
                         dim: int = 64, sigma: float = 0.18,
                         seed: int = 97) -> str:
    """Mixture-of-Gaussians embedding fabric (VERDICT r10 task #7): the
    driver testdata's embeddings are UNIFORM random — PQ's adversarial
    case and unrealistically structureless for IVF recall claims. This
    fabric plants ``n_clusters`` unit-sphere centers and draws each
    vector as center + N(0, sigma²) noise — the shape a real embedding
    corpus has. Fully deterministic: center from a cluster-seeded RNG,
    noise from a vec_id-seeded RNG, so any partitioning yields identical
    bytes."""
    import numpy as np
    import pandas as pd

    path = os.path.join(work, f"embeddings_mog_{n}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    crng = np.random.default_rng(seed)
    centers = crng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast(centers)

    def gen(batches):
        cs = bc.value
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), dim), dtype=np.float32)
            for i, vid in enumerate(ids):
                r = np.random.default_rng(seed * 1_000_003 + int(vid))
                out[i] = cs[int(vid) % n_clusters] + r.normal(
                    scale=sigma, size=dim)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(out),
                                "label": (ids % n_clusters).astype("int32")})

    (spark.range(n).repartition(32)
     .mapInPandas(gen, schema="vec_id long, embedding array<float>, "
                              "label int")
     .write.mode("overwrite").parquet(path))
    return path


def probe_ann_clustered(spark, emb_path: str, n_queries: int = 32,
                        k: int = 5) -> dict:
    """Recall@k of the ANN family against brute-force ground truth on the
    clustered fabric, plus the Lloyd-vs-seeded PQ sub-codebook delta."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.similarity import (
        ann_bruteforce, ann_ivf, ann_ivfpq, pq_subcodebooks,
        pq_train_subcodebooks, train_ivf_codebook)

    emb = spark.read.parquet(emb_path).localCheckpoint(eager=True)
    truth = (ann_bruteforce(emb, n_queries, k)
             .select("q_id", "vec_id").localCheckpoint(eager=True))
    denom = truth.count()
    cb = train_ivf_codebook(emb)

    def recall(df) -> float:
        hits = df.select("q_id", "vec_id").join(truth, ["q_id", "vec_id"])
        return round(hits.count() / denom, 3)

    out = {"recall_ivf": recall(ann_ivf(emb, n_queries, k, codebook=cb))}
    seeded = pq_subcodebooks(emb).localCheckpoint(eager=True)
    trained = pq_train_subcodebooks(emb).localCheckpoint(eager=True)
    out["recall_ivfpq_seeded"] = recall(
        ann_ivfpq(emb, n_queries, k, codebook=cb, subcodebook=seeded))
    out["recall_ivfpq_trained"] = recall(
        ann_ivfpq(emb, n_queries, k, codebook=cb, subcodebook=trained))
    # the ADC ordering isolated from the IVF probe ceiling: rerank=1
    # (top-k straight by ADC distance, exact re-score depth k only);
    # rerank_frac=0 disarms the r12 adaptive floor, which would
    # otherwise silently deepen this probe back to the full path
    out["recall_adc_seeded_rerank1"] = recall(
        ann_ivfpq(emb, n_queries, k, codebook=cb, subcodebook=seeded,
                  rerank=1, rerank_frac=0.0))
    out["recall_adc_trained_rerank1"] = recall(
        ann_ivfpq(emb, n_queries, k, codebook=cb, subcodebook=trained,
                  rerank=1, rerank_frac=0.0))
    out["n"] = emb.count()
    out["n_queries"] = n_queries
    out["n_clusters"] = int(emb.agg(F.countDistinct("label"))
                            .collect()[0][0])
    return out


def probe_staged(spark, emb_path: str, docs_path: str, work: str,
                 tag: str) -> dict[str, float]:
    """r13 staged-gate family at probe scale: SemDeDup (within-cell
    pair fan-out is THE hazard — probed at fixed cells, at the guard
    cap, and at paper-style cells-grow-with-corpus), the persisted
    IVF-PQ index lifecycle (build half / append half / query), and the
    sequence render + streaming pack over the documents table."""
    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.dedup import semdedup
    from obadiah_spark.pipelines.packing import render_sequences
    from obadiah_spark.pipelines.similarity import (
        IVF_CELLS, ann_ivfpq_query, append_ivfpq_index, train_ivf_codebook,
        write_ivfpq_index)

    emb = spark.read.parquet(emb_path)
    docs = spark.read.parquet(docs_path)
    out: dict[str, float] = {}

    def timed(name, fn):
        _timed(out, name, fn)

    cbd: dict = {}
    timed("semdedup_train", lambda: cbd.setdefault(
        "cb", train_ivf_codebook(emb)).count())
    timed("semdedup_fixed_cells", lambda: semdedup(
        emb, threshold=0.3, codebook=cbd["cb"]).count())
    # the production guard: cells over the cap keep their vectors
    # (nn_id null) instead of exploding the pair join
    timed("semdedup_capped", lambda: semdedup(
        emb, threshold=0.3, codebook=cbd["cb"],
        max_cell_size=2_000).count())
    # the paper's scale discipline: cells grow WITH the corpus (x1 -> 16,
    # x10 -> 160), so the per-cell population (and the pair fan-out per
    # cell) stays flat — the exponent of THIS line is the honest scale
    # story; fixed-cells documents the hazard
    factor = 10 if tag == "x10" else 1
    n_sc = IVF_CELLS * factor
    timed("semdedup_scaled_cells", lambda: semdedup(
        emb, threshold=0.3, n_cells=n_sc,
        codebook=train_ivf_codebook(emb, n_cells=n_sc)).count())

    idx = os.path.join(work, f"ivfpq_idx_{tag}")
    shutil.rmtree(idx, ignore_errors=True)
    even = F.pmod(F.col("vec_id"), F.lit(2)) == 0
    timed("ivfpq_build_half", lambda: write_ivfpq_index(
        emb.filter(even), idx, train_emb=emb, train_pq=False) or 1)
    timed("ivfpq_append_half", lambda: append_ivfpq_index(
        spark, idx, emb.filter(~even)) or 1)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    timed("ivfpq_query_k5", lambda: ann_ivfpq_query(spark, idx, q).count())

    # DSIR (staged r15): two bucket censuses + a broadcast weight join
    # + one doc-keyed agg + the pure-map accept race — expected ~linear
    from obadiah_spark.pipelines.dsir import dsir_sample
    from obadiah_spark.pipelines.sampling import hash_sample

    d2 = docs.select("doc_id", "text")
    timed("dsir_sample", lambda: dsir_sample(
        d2, hash_sample(d2, 0.3, salt="dsir_target")
        .select("doc_id", "text")).count())

    # boilerplate removal (staged r16): hashed line census + membership
    # join + doc-keyed rebuild — the dup_spans shuffle shape
    from obadiah_spark.pipelines.docquality import drop_boilerplate

    # agg over the rewrite columns, NOT count(): the output's left
    # join from docs is 1:1, so count() lets Catalyst prune the whole
    # census subtree and times nothing
    timed("drop_boilerplate", lambda: drop_boilerplate(
        d2, line_words=12).agg(
            F.max("clean_md5"), F.sum("dropped_lines")).collect() and 1)

    # cluster-balanced subsampling (staged r16): broadcast codebook
    # scoring + ONE cell-partitioned window; reuses the probe codebook
    from obadiah_spark.pipelines.sampling import cluster_balanced_sample

    timed("cluster_sample", lambda: cluster_balanced_sample(
        emb, 20, codebook=cbd["cb"]).count())

    # perplexity buckets (staged r16): lang-id + bigram surprisal +
    # census CDF + broadcast join-back; agg over COMPUTED columns (the
    # probe-timing lesson) so no subtree prunes away
    from obadiah_spark.pipelines.text import perplexity_buckets

    timed("ppl_buckets", lambda: perplexity_buckets(d2).agg(
        F.sum("ppl_milli"), F.sum(F.length("bucket"))).collect() and 1)

    # ExactSubstr span mode (staged r16): dup_spans' census/join shape
    # + one doc-keyed running-max window over duplicated STARTS only
    from obadiah_spark.pipelines.docquality import dup_spans

    timed("exact_substr", lambda: dup_spans(d2, min_span=16).agg(
        F.max("clean_md5"), F.sum("dup_words")).collect() and 1)

    # streaming IVF-PQ index ingest (staged r16): 3-batch vector replay
    # encoding under frozen books into idempotent batch/cell partitions,
    # then the pruned query over the streamed layout
    timed("ann_ingest_stream",
          lambda: _ann_ingest_replay(spark, emb, cbd["cb"], work, tag))

    # production defaults: the corpus-count auto-shard rule sizes the
    # fold groups, so per-task memory stays flat as the corpus grows
    timed("render_sequences", lambda: render_sequences(docs)
          .agg(F.max("seq_md5")).collect() and 1)
    timed("pack_stream_replay",
          lambda: _pack_stream_replay(spark, docs, work, tag))
    return out


def _ann_ingest_replay(spark, emb, cb, work: str, tag: str) -> int:
    """Stream the embeddings through run_ann_index_ingest in 3
    vec_id-range micro-batches (distributed chunk authoring, no
    collect), then run the index query — the staged gate's shape at
    probe scale."""
    import time

    from pyspark.sql import functions as F

    from obadiah_spark.pipelines.similarity import (ann_ivfpq_query,
                                                    pq_subcodebooks)
    from obadiah_spark.streaming.ann_ingest import run_ann_index_ingest

    src = os.path.join(work, f"ann_ingest_src_{tag}")
    idx = os.path.join(work, f"ann_ingest_idx_{tag}")
    ckpt = os.path.join(work, f"ann_ingest_ckpt_{tag}")
    for d in (src, idx, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    bounds = emb.select(
        F.percentile_approx("vec_id", [1 / 3, 2 / 3], 10_000)).first()[0]
    sel = emb.select("vec_id", "embedding")
    chunks = [sel.filter(F.col("vec_id") <= bounds[0]),
              sel.filter((F.col("vec_id") > bounds[0])
                         & (F.col("vec_id") <= bounds[1])),
              sel.filter(F.col("vec_id") > bounds[1])]
    base = time.time()
    for i, ch in enumerate(chunks):
        d = os.path.join(src, f"{i:03d}")
        ch.write.parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f),
                         (base + 10 * i, base + 10 * i))
    run_ann_index_ingest(
        spark, os.path.join(src, "*"),
        "vec_id long, embedding array<float>", ckpt, idx,
        codebook=cb, subcodebook=pq_subcodebooks(emb),
        max_files_per_trigger=64)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    return ann_ivfpq_query(spark, idx, q).count()


def _pack_stream_replay(spark, docs, work: str, tag: str) -> int:
    """Replay the documents through the streaming packer in 3 doc_id-
    range micro-batches (the fold sorts within a batch; ranges carry
    the per-shard order across batches) — all chunking stays
    distributed, no driver collect."""
    import time
    import uuid

    from pyspark.sql import functions as F

    from obadiah_spark.streaming.pack_stream import pack_stream

    src = os.path.join(work, f"pack_stream_src_{tag}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(src + "_ckpt", ignore_errors=True)
    os.makedirs(src)
    bounds = docs.select(
        F.percentile_approx("doc_id", [1 / 3, 2 / 3], 10_000)).first()[0]
    base = time.time()
    sel = docs.select("doc_id", "text")
    chunks = [sel.filter(F.col("doc_id") <= bounds[0]),
              sel.filter((F.col("doc_id") > bounds[0])
                         & (F.col("doc_id") <= bounds[1])),
              sel.filter(F.col("doc_id") > bounds[1])]
    for i, ch in enumerate(chunks):
        d = os.path.join(src, f"{i:03d}")
        ch.write.parquet(d)
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f),
                         (base + 10 * i, base + 10 * i))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 64)
              .parquet(os.path.join(src, "*")))
    name = f"pack_probe_{uuid.uuid4().hex[:8]}"
    # checkpoint OUTSIDE src — the source glob src/* would read it as input
    q = (pack_stream(stream)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", src + "_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name).count()


def main() -> None:
    args = [a for a in sys.argv[1:]
            if a not in ("--docs-only", "--ann-clustered", "--staged-only")]
    docs_only = "--docs-only" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    work = args[1] if len(args) > 1 else "/tmp/obadiah_scale_probe"
    os.makedirs(work, exist_ok=True)

    from obadiah_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
    spark = get_spark("scale_probe")
    import __spark_entry__ as em

    if "--ann-clustered" in sys.argv[1:]:  # the r11 recall fabric only
        res = {}
        for n in (5_000, 50_000):
            p = build_clustered_embs(spark, work, n)
            res[f"x{n}"] = probe_ann_clustered(spark, p)
        print(json.dumps({"fabric": "mixture_of_gaussians", **res}))
        return
    if "--staged-only" in sys.argv[1:]:  # the r13 staged-gate family
        s1 = probe_staged(spark, build_embs(spark, sf_dir, work, 1),
                          build_docs(spark, sf_dir, work, 1), work, "x1")
        s10 = probe_staged(spark, build_embs(spark, sf_dir, work, 10),
                           build_docs(spark, sf_dir, work, 10), work, "x10")
        exps = {k: round(math.log10(max(s10[k], 1e-3) / max(s1[k], 1e-3)), 2)
                for k in s1}
        print(json.dumps({"sf_base": sf_dir, "x1": s1, "x10": s10,
                          "scaling_exponent_log10": exps}))
        return
    if docs_only:  # just the documents-table family (fast re-probe)
        d1 = probe_docs(spark, build_docs(spark, sf_dir, work, 1))
        d10 = probe_docs(spark, build_docs(spark, sf_dir, work, 10))
        exps = {k: round(math.log10(max(d10[k], 1e-3) / max(d1[k], 1e-3)), 2)
                for k in d1}
        print(json.dumps({"sf_base": sf_dir, "x1": d1, "x10": d10,
                          "scaling_exponent_log10": exps}))
        return

    p1 = build_replicated(spark, sf_dir, work, 1)
    p10 = build_replicated(spark, sf_dir, work, 10)
    c1 = build_ckpt(spark, p1, work, "x1")
    c10 = build_ckpt(spark, p10, work, "x10")

    r1 = probe(spark, p1, c1, em.OB_AT)
    r10 = probe(spark, p10, c10, em.OB_AT)
    d1 = probe_docs(spark, build_docs(spark, sf_dir, work, 1))
    d10 = probe_docs(spark, build_docs(spark, sf_dir, work, 10))
    r1.update(d1)
    r10.update(d10)
    r1.update(probe_embs(spark, build_embs(spark, sf_dir, work, 1)))
    r10.update(probe_embs(spark, build_embs(spark, sf_dir, work, 10)))
    exps = {k: round(math.log10(max(r10[k], 1e-3) / max(r1[k], 1e-3)), 2)
            for k in r1}
    print(json.dumps({"sf_base": sf_dir, "x1": r1, "x10": r10,
                      "scaling_exponent_log10": exps}))


if __name__ == "__main__":
    main()
