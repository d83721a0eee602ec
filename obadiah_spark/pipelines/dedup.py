"""Deduplication operators over ``documents(doc_id, text, ...)``.

Four dedup families, all deterministic and cross-engine (hashes are md5-hex
arithmetic so Spark and DuckDB agree bit-for-bit):

- ``exact_dedup`` — normalize → fingerprint → hash-groupBy. One shuffle on
  the fingerprint; at 100 TB this is the classic map-side-combinable dedup.
- ``ngram_jaccard_pairs`` — exact 3-word-shingle Jaccard for every pair
  sharing a shingle. The shingle join is the scale risk (hot shingles →
  skew); the LSH variant below is the 100 TB path, this is its oracle.
- ``minhash_lsh_candidates`` — K=16 minhashes, 4 bands × 4 rows; candidate
  pairs = docs sharing any band signature. Banded join touches only
  bucket-mates — never all pairs.
- ``simhash`` — 32-bit sign-of-weighted-sum fingerprint per doc.

No counterpart exists in the reference repo (it is an order-book engine);
these follow the standard MinHash/SimHash constructions (Broder 1997;
Charikar 2002) as required by the driver's pipeline mandate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

# ------------------------------------------------------------ exact dedup --

def norm_text_expr(col: str = "text"):
    """THE fingerprint normalizer (whitespace-collapsed lowercase) —
    one definition shared by :func:`exact_dedup` and the streaming
    first-seen dedup (streaming/corpus_stream.py), so the batch window
    and the ingest state can never fingerprint differently (review r12
    finding)."""
    return F.lower(F.trim(
        F.regexp_replace(F.col(col), r"[ \t\n\r\x0B\f]+", " ")))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on whitespace-normalized lowercase text."""
    f = docs.select("doc_id", F.md5(norm_text_expr()).alias("fingerprint"))
    w = W.partitionBy("fingerprint")
    return f.select(
        "doc_id", "fingerprint",
        F.count(F.lit(1)).over(w).alias("group_size"),
        F.min("doc_id").over(w).alias("canonical_doc_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
    )


EXACT_DEDUP_ORACLE = r"""
WITH f AS (
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '[ \t\n\r\x0B\f]+', ' ', 'g')))) AS fingerprint
    FROM documents
)
SELECT doc_id, fingerprint,
       count(*) OVER (PARTITION BY fingerprint) AS group_size,
       min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
FROM f
"""

# ------------------------------------------------------- shingles (shared) --

def _spread_docs(docs: DataFrame) -> DataFrame:
    """Repartition the raw doc table by doc_id before token explosion.

    At real scale the parquet reader yields many input splits and this is a
    near-no-op; on the small test files everything lands in ONE split, which
    would serialize the (expensive) explode+md5 map stage on a single core.
    Hash-partitioning on doc_id also pre-aligns the downstream
    groupBy(doc_id, ...) aggregations."""
    nparts = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(nparts, "doc_id")


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc (single-space tokenization).

    No explicit repartition: the lead() window below hash-partitions on
    doc_id anyway, so the only single-threaded work is the cheap split()."""
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    wn = W.partitionBy("doc_id").orderBy("pos")
    return (
        tok.withColumn("w1", F.lead("w", 1).over(wn))
        .withColumn("w2", F.lead("w", 2).over(wn))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1", "w2").alias("shingle"))
        .distinct()
    )


_SHINGLES_CTE = """tok AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS shingle,
               lead(w, 2) OVER win AS w2
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ) s WHERE w2 IS NOT NULL
)"""

# --------------------------------------------------------- n-gram Jaccard --

def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.05) -> DataFrame:
    """Exact shingle-Jaccard for pairs sharing >=1 shingle, >= threshold.

    jaccard = |A∩B| / (|A|+|B|−|A∩B|) — a single integer division, so the
    double is bit-identical across engines."""
    sh = _shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")), "doc_b")
        .withColumn("jaccard", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )
    return out


def ngram_jaccard_oracle(threshold: float = 0.05) -> str:
    return f"""
WITH {_SHINGLES_CTE}, sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, common,
       common / (sa.n_shingles + sb.n_shingles - common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / (sa.n_shingles + sb.n_shingles - common) >= {threshold}
"""

# ------------------------------------------------------------ MinHash LSH --

MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # K = BANDS * ROWS


def _minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig): all K=16 seed-hashes computed as COLUMNS of
    one projection over the shingle table (no row multiplication), min-reduced
    in one map-side-combinable groupBy, then the 4 band signatures unpivoted
    with a single explode. Hash arithmetic is identical to the DuckDB oracle:
    a 60-bit ('0x'||substr(md5(seed||'#'||shingle),1,15))::BIGINT per seed.

    Scale note: the previous form crossJoined 16 seed rows onto the shingle
    table — a 16× row blow-up through the shuffle. This form shuffles the
    shingle table ONCE at its natural size with 16 narrow bigint columns.
    """
    sh = _shingles(docs)
    hcols = [
        F.conv(
            F.substring(F.md5(F.concat_ws("#", F.lit(s), F.col("shingle"))), 1, 15),
            16, 10,
        ).cast("bigint").alias(f"h{s}")
        for s in range(MINHASH_K)
    ]
    mins = (
        sh.select("doc_id", *hcols)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{s}").alias(f"m{s}") for s in range(MINHASH_K)])
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("#", *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)])
            ).alias("band_sig"),
        )
        for b in range(LSH_BANDS)
    ]
    return mins.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))


def minhash_lsh_candidates(docs: DataFrame,
                           max_bucket_size: int = 50) -> DataFrame:
    """Near-duplicate candidate pairs: equal band signature in >=1 band.

    Buckets larger than ``max_bucket_size`` are skipped — the standard LSH
    hot-bucket guard: a signature shared by half the corpus carries no
    near-duplicate signal but costs O(bucket²) join pairs. The oracle applies
    the same cap, so the gate stays exact."""
    bands = (
        _minhash_bands(docs)
        # materialize once: the self-join would otherwise recompute the whole
        # shingle -> 16-hash -> min lineage for BOTH sides. The cache lives
        # for the session (it is part of the RETURNED lazy plan, so this
        # function cannot unpersist it); a caller running many invocations
        # per session can spark.catalog.clearCache() between them
        .persist()
    )
    wb = W.partitionBy("band", "band_sig")
    capped = (
        bands.withColumn("_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
    b = capped.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_oracle(max_bucket_size: int = 50) -> str:
    """Mirror of minhash_lsh_candidates — the hot-bucket cap is a
    parameter on both sides so a non-default cap cannot silently fork."""
    return f"""
WITH {_SHINGLES_CTE}, seeds AS (
    SELECT unnest(generate_series(0, {MINHASH_K - 1})) AS seed
), h AS (
    SELECT doc_id, seed,
           ('0x' || substr(md5(seed || '#' || shingle), 1, 15))::BIGINT AS h
    FROM sh CROSS JOIN seeds
), sigs AS (
    SELECT doc_id, seed, min(h) AS minhash FROM h GROUP BY doc_id, seed
), bands AS (
    SELECT doc_id, CAST(seed // {LSH_ROWS} AS INT) AS band,
           md5(concat_ws('#',
               min(CASE WHEN seed % {LSH_ROWS} = 0 THEN minhash END),
               min(CASE WHEN seed % {LSH_ROWS} = 1 THEN minhash END),
               min(CASE WHEN seed % {LSH_ROWS} = 2 THEN minhash END),
               min(CASE WHEN seed % {LSH_ROWS} = 3 THEN minhash END))) AS band_sig
    FROM sigs GROUP BY doc_id, seed // {LSH_ROWS}
), capped AS (
    SELECT doc_id, band, band_sig FROM (
        SELECT *, count(*) OVER (PARTITION BY band, band_sig) AS n FROM bands) t
    WHERE n <= {max_bucket_size}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM capped a JOIN capped b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""


# legacy constant form (default cap) for existing importers
MINHASH_LSH_ORACLE = minhash_lsh_oracle()

# ---------------------------------------------------------------- SimHash --

def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over whitespace tokens (with multiplicity): bit b is
    the sign of the count-weighted sum of ±1 token-hash bits.

    All 32 bit-sums are conditional aggregates of ONE groupBy(doc_id) over
    the (doc_id, token, cnt) table — no row multiplication (the previous form
    crossJoined 32 bit rows onto the token table, a 32× blow-up). Bit
    arithmetic ((th // 2^b) % 2) matches the DuckDB oracle exactly.
    """
    tok = (
        _spread_docs(docs)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("th", F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("bigint"))
    )
    bit_sums = [
        F.sum(
            F.when((F.col("th") / F.lit(1 << b)).cast("bigint") % 2 == 1, F.col("cnt"))
             .otherwise(-F.col("cnt"))
        ).alias(f"s{b}")
        for b in range(32)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    acc = F.lit(0).cast("bigint")
    for b in range(32):
        acc = acc + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return sums.select("doc_id", acc.alias("simhash"))


SIMHASH_ORACLE = """
WITH tok AS (
    SELECT doc_id, w, count(*) AS cnt,
           ('0x' || substr(md5(w), 1, 8))::BIGINT AS th
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
    GROUP BY doc_id, w
), bits AS (
    SELECT unnest(generate_series(0, 31)) AS bit
), contrib AS (
    SELECT doc_id, bit, (1::BIGINT << bit) AS mask,
           CASE WHEN (th // (1::BIGINT << bit)) % 2 = 1 THEN cnt ELSE -cnt END AS c
    FROM tok CROSS JOIN bits
), bitsum AS (
    SELECT doc_id, bit, mask, sum(c) AS s FROM contrib GROUP BY doc_id, bit, mask
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN mask ELSE 0 END) AS BIGINT) AS simhash
FROM bitsum GROUP BY doc_id
"""


# --------------------------------------- embedding-cosine near-dup ----------

def embedding_dedup(emb: DataFrame, min_cosine: float = 0.45,
                    max_id: int = 800) -> DataFrame:
    """Embedding-cosine near-duplicate marking: a vector is a duplicate iff
    some LOWER-id vector is within ``min_cosine``; ``dup_of`` is the
    smallest such neighbor (deterministic canonical representative — the
    usual keep-first-occurrence rule of a dedup sweep).

    This EXACT form is the ground truth: all-pairs cosine, O(n²) by
    construction, so — like ``ann_lsh_recall`` — the audit is bounded to
    the deterministic ``vec_id < max_id`` subset (a no-op at the gate
    corpus, a cost cap at larger sf). The pair set comes from the SHARED
    :func:`similarity.exact_strong_pairs` (one definition of the exact
    cosine rule across the recall gates and this sweep). The 100 TB path
    is :func:`embedding_dedup_lsh` — same rule over LSH-bucketed
    candidates only, recall-tested against this form.
    """
    from obadiah_spark.pipelines.similarity import exact_strong_pairs

    strong = exact_strong_pairs(emb, min_cosine, max_id)
    dup_of = (
        strong.groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return (
        emb.filter(F.col("vec_id") < max_id)
        .select("vec_id").join(dup_of, "vec_id", "left")
        .select("vec_id", F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of")
    )


def _exact_dup_ctes(min_cosine: float, max_id: int) -> str:
    """The exact-duplicate rule as shared CTEs (round-9 cosine, lower-id
    representative, max_id bound) — ONE definition consumed by both the
    embedding_dedup oracle and the LSH recall oracle, so the rule cannot
    silently fork between them."""
    return f"""e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE vec_id < {max_id}
), dup AS (
    SELECT b.vec_id, min(a.vec_id) AS dup_of
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.emb, b.emb)
                / (sqrt(list_dot_product(a.emb, a.emb))
                   * sqrt(list_dot_product(b.emb, b.emb))), 9) >= {min_cosine!r}
    GROUP BY b.vec_id
)"""


def embedding_dedup_oracle(min_cosine: float = 0.45,
                           max_id: int = 800) -> str:
    return f"""
WITH {_exact_dup_ctes(min_cosine, max_id)}
SELECT e.vec_id, dup.dup_of IS NOT NULL AS is_dup, dup.dup_of
FROM e LEFT JOIN dup ON e.vec_id = dup.vec_id
"""


# sign-LSH at cosine 0.45: p_plane ≈ 0.65, so a 6-plane band collides with
# p ≈ 0.074 and 32 tables give ≈ 0.92 expected recall — denser than the
# similarity-search default because a dedup SWEEP pays for misses with
# retained duplicates, not just a worse neighbor list
DEDUP_TABLES = 32
DEDUP_PLANES = 6


def embedding_dedup_lsh(emb: DataFrame, min_cosine: float = 0.45) -> DataFrame:
    """Scale path: the same dup rule over LSH candidate pairs only — bucket
    equi-joins, never all-pairs. Misses are possible (that is the trade);
    the recall pytest bounds them against :func:`embedding_dedup`."""
    from obadiah_spark.pipelines.similarity import ann_lsh_pairs

    cand = ann_lsh_pairs(emb, tables=DEDUP_TABLES, planes=DEDUP_PLANES,
                         min_cosine=min_cosine)
    dup_of = (
        cand.filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return (
        emb.select("vec_id").join(dup_of, "vec_id", "left")
        .select("vec_id", F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of")
    )


def embedding_dedup_lsh_recall(emb: DataFrame, min_cosine: float = 0.45,
                               threshold: float = 0.5,
                               max_id: int = 800) -> DataFrame:
    """One-row recall metric gating the LSH dedup scale path (the same
    promotion pattern as similarity.ann_lsh_recall): of all vectors the
    EXACT sweep marks duplicate, the fraction the LSH sweep also marks
    must be >= threshold. A vector counts as recalled if flagged at all —
    its ``dup_of`` may legitimately name a different lower neighbor (the
    LSH sweep sees only bucketed candidates).

    The oracle recomputes the exact duplicate count and asserts the bound,
    so a hash match proves (a) the exact side bitwise and (b) that LSH
    recall did not silently regress. Bounded to ``vec_id < max_id`` like
    every exact ground-truth audit (no-op at the gate corpus, cost cap at
    larger sf)."""
    emb_b = emb.filter(F.col("vec_id") < max_id)
    exact = (embedding_dedup(emb_b, min_cosine, max_id)
             .filter("is_dup").select("vec_id"))
    lsh = (embedding_dedup_lsh(emb_b, min_cosine)
           .filter("is_dup").select("vec_id").withColumn("hit", F.lit(1)))
    flag = f"recall_ge_{str(threshold).replace('.', '_')}"
    # LEFT join broadcasts only its right (non-preserved) side — lsh is
    # bucket-bounded and tiny
    flagged = exact.join(F.broadcast(lsh), "vec_id", "left")
    return flagged.agg(
        F.lit("embedding_dedup_lsh_recall").alias("metric"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact_dups"),
        (F.coalesce(F.sum("hit"), F.lit(0))
         >= F.count(F.lit(1)) * F.lit(threshold)).alias(flag),
    )


def embedding_dedup_lsh_recall_oracle(min_cosine: float = 0.45,
                                      threshold: float = 0.5,
                                      max_id: int = 800) -> str:
    """Exact duplicate count recomputed in SQL; the recall bound asserted
    TRUE (0 >= 0*t holds, so an empty duplicate set is vacuously true on
    both sides)."""
    flag = f"recall_ge_{str(threshold).replace('.', '_')}"
    return f"""
WITH {_exact_dup_ctes(min_cosine, max_id)}
SELECT 'embedding_dedup_lsh_recall' AS metric,
       CAST(count(*) AS BIGINT) AS n_exact_dups,
       TRUE AS {flag}
FROM dup
"""


# --------------------------------------------------------- SemDeDup --------
# Cluster-then-dedup over embeddings (SemDeDup, Abbas et al. 2023,
# arXiv:2303.09540): k-means the corpus into cells, then compare pairs
# ONLY within a cell — the clusters bound the quadratic instead of
# random LSH planes, which is the paper's point: semantic duplicates
# land in the same cluster with data-adaptive (not chance) probability.
# The engine reuses its deterministic IVF machinery end to end — the
# O(1)-in-corpus capped Lloyd trainer, the broadcast argmax-cosine
# assignment, round-9 cosine at every compare site — so the whole
# operator (training included) hash-checks against DuckDB through the
# shared `_ivf_codebook_ctes` replica.
#
# Scale shape: train is O(1) (capped sample), assignment is map-side
# against a broadcast n_cells-row codebook, and the pairwise stage is
# ONE equi-join on `cell` whose fanout is Σ|cell|² — bounded by sizing
# n_cells ~ corpus/target_cell_size (the IVF discipline) plus the
# `max_cell_size` census guard below (the minhash hot-bucket precedent:
# an over-cap cell yields no pairs rather than a quadratic blowup, and
# its vectors are kept, never silently dropped).

SEMDEDUP_THRESHOLD = 0.95  # the paper's operating range on real corpora
# the auto-cells rule (n_cells="auto"): cells ~ corpus / target cell
# size, so the per-cell population — and the Σ|cell|² pair fan-out per
# row — stays FLAT as the corpus grows (the x10 probe: fixed 16 cells
# scale at exponent 0.78, corpus-proportional cells at 0.46).  Same
# shape as packing's PACK_DOCS_PER_SHARD rule; depends only on the
# corpus count, so the clustering stays replay-deterministic.
SEMDEDUP_VECS_PER_CELL = 1_000


def semdedup(emb: DataFrame, threshold: float = SEMDEDUP_THRESHOLD,
             n_cells: int | str | None = "auto", stride: int | None = None,
             iters: int | None = None, train_stride: int | None = None,
             train_max: int | None = None,
             max_cell_size: int | None = None,
             codebook: DataFrame | None = None) -> DataFrame:
    """One row per vector: ``(vec_id, cell, nn_id, nn_cos, is_dup,
    canon_id)``.

    ``nn_id``/``nn_cos`` = the most-similar SMALLER-id vector in the
    same cell (ties broken to the smallest id; null when the vector is
    its cell's smallest id or the cell is over ``max_cell_size``) —
    emitted unconditionally so a value gate pins every within-cell
    cosine, not just the rare above-threshold verdicts.  ``is_dup`` =
    nn_cos >= threshold; ``canon_id`` = the smallest same-cell id
    within threshold (the keep-first representative, matching
    :func:`embedding_dedup`'s rule).  IVF knobs default to the
    similarity module's; pass ``codebook`` (from
    :func:`~obadiah_spark.pipelines.similarity.train_ivf_codebook`) to
    skip in-query training — the production path.  ``n_cells="auto"``
    (the DEFAULT since r14) derives ceil(count /
    SEMDEDUP_VECS_PER_CELL) cells — the corpus-proportional sizing that
    keeps the pair fan-out per row flat at any scale (measured
    exponent 0.46 vs 0.78 with fixed cells, SCALE.md §7); pass an int
    to opt into a fixed geometry (the value gates pin n_cells via
    ``codebook``, under which ``n_cells`` is ignored: the codebook
    already fixes the cell count)."""
    from obadiah_spark.pipelines.similarity import (
        IVF_CELLS, IVF_ITERS, IVF_STRIDE, IVF_TRAIN_MAX, IVF_TRAIN_STRIDE,
        _cosine, _rank_cells, ivf_centroids)

    if n_cells == "auto":
        n_cells = (max(1, -(-emb.count() // SEMDEDUP_VECS_PER_CELL))
                   if codebook is None else None)
    if n_cells is None:
        # with a supplied codebook the REAL cell count drives the salt
        # grid sizing below (ADVICE r14 #3: falling back to IVF_CELLS
        # oversized the r/s grid for auto-sized codebooks — physical
        # payload replication only, values unaffected); the codebook is
        # a localCheckpoint'd/materialized n_cells-row frame, so the
        # count is a tiny-scan, not a recompute
        n_cells = codebook.count() if codebook is not None else IVF_CELLS
    stride = IVF_STRIDE if stride is None else stride
    iters = IVF_ITERS if iters is None else iters
    train_stride = IVF_TRAIN_STRIDE if train_stride is None else train_stride
    train_max = IVF_TRAIN_MAX if train_max is None else train_max
    cents = codebook if codebook is not None else ivf_centroids(
        emb, n_cells, stride, iters, train_stride, train_max)
    assign = (
        _rank_cells(emb.select("vec_id", "embedding"), cents,
                    "vec_id", "embedding")
        .filter(F.col("cr") == 1).select("vec_id", "cell")
    )
    v = emb.select("vec_id", "embedding").join(assign, "vec_id")
    paired = v
    if max_cell_size is not None:
        census = (v.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
                  .filter(F.col("_n") <= max_cell_size).drop("_n"))
        paired = v.join(census, "cell")
    # replicate-and-bucket the within-cell self-join: keyed on cell
    # alone, post-shuffle parallelism is AT MOST n_cells — a
    # 1000-executor cluster would idle.  A two-sided ⌈√R⌉×⌈√R⌉ grid
    # buckets BOTH sides — the a side at its own residue pmod(a_id, s)
    # crossed with every b residue, the b side symmetrically — so the
    # join keys on (cell, abk, bbk): n_cells × s² ≥ n_cells × R
    # partitions, the same salt parallelism as the one-sided form.
    # Every (a, b) pair still meets exactly once (at the two vectors'
    # own residues), so the pair SET — and every downstream value — is
    # unchanged; the grid is physical only.  vs the one-sided salt
    # (a exploded into all R buckets), each side now replicates its
    # embedding payload only s = ⌈√R⌉ times, cutting salt shuffle
    # bytes from (R+1)·|v| to 2⌈√R⌉·|v| — at cluster R (50-100) that
    # is the difference between the vector payload dominating the
    # shuffle and not (A/B in SCALE.md §7 r14).
    r = max(1, (2 * emb.sparkSession.sparkContext.defaultParallelism
                + n_cells - 1) // n_cells)
    s = math.isqrt(r - 1) + 1 if r > 1 else 1  # ceil(sqrt(r))
    grid = F.array(*[F.lit(i) for i in range(s)])
    a = paired.select("cell", F.col("vec_id").alias("a_id"),
                      F.col("embedding").alias("a_emb"),
                      F.pmod(F.col("vec_id"), F.lit(s)).alias("abk"),
                      F.explode(grid).alias("bbk"))
    b = paired.select("cell", F.col("vec_id").alias("b_id"),
                      F.col("embedding").alias("b_emb"),
                      F.explode(grid).alias("abk"),
                      F.pmod(F.col("vec_id"), F.lit(s)).alias("bbk"))
    pairs = (a.join(b, ["cell", "abk", "bbk"])
             .filter(F.col("a_id") < F.col("b_id"))
             .select("b_id", "a_id", _cosine("a_emb", "b_emb").alias("cos")))
    w = W.partitionBy("b_id").orderBy(F.desc("cos"), F.asc("a_id"))
    nn = (pairs.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") == 1)
          .select(F.col("b_id").alias("vec_id"),
                  F.col("a_id").alias("nn_id"),
                  F.col("cos").alias("nn_cos")))
    canon = (pairs.filter(F.col("cos") >= threshold)
             .groupBy(F.col("b_id").alias("vec_id"))
             .agg(F.min("a_id").alias("canon_id")))
    return (v.select("vec_id", "cell")
            .join(nn, "vec_id", "left").join(canon, "vec_id", "left")
            .select("vec_id", "cell", "nn_id", "nn_cos",
                    F.coalesce(F.col("nn_cos") >= threshold,
                               F.lit(False)).alias("is_dup"),
                    "canon_id"))


def semdedup_oracle_sql(threshold: float = SEMDEDUP_THRESHOLD,
                        n_cells: int | None = None,
                        stride: int | None = None, iters: int | None = None,
                        train_stride: int | None = None,
                        train_max: int | None = None) -> str:
    """DuckDB replica including the k-means training (the shared
    `_ivf_codebook_ctes` chain the ann_ivf oracle uses), the argmax
    assignment, and the within-cell nearest-smaller-id rule."""
    from obadiah_spark.pipelines.similarity import (
        IVF_CELLS, IVF_ITERS, IVF_STRIDE, IVF_TRAIN_MAX, IVF_TRAIN_STRIDE,
        _ivf_codebook_ctes)

    n_cells = IVF_CELLS if n_cells is None else n_cells
    stride = IVF_STRIDE if stride is None else stride
    iters = IVF_ITERS if iters is None else iters
    train_stride = IVF_TRAIN_STRIDE if train_stride is None else train_stride
    train_max = IVF_TRAIN_MAX if train_max is None else train_max
    return f"""
WITH e AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), {_ivf_codebook_ctes(n_cells, stride, iters, train_stride, train_max)}, ar AS (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round(list_dot_product(e.emb, c.c_emb)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(c.c_emb, c.c_emb))), 9) DESC,
               c.cell) AS cr
    FROM e CROSS JOIN c
), v AS MATERIALIZED (
    SELECT e.vec_id, e.emb, a.cell
    FROM e JOIN (SELECT vec_id, cell FROM ar WHERE cr = 1) a USING (vec_id)
), p AS MATERIALIZED (
    SELECT b.vec_id AS b_id, a.vec_id AS a_id,
           round(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 9) AS cos
    FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
), nn AS (
    SELECT b_id AS vec_id, a_id AS nn_id, cos AS nn_cos
    FROM p QUALIFY row_number() OVER (
        PARTITION BY b_id ORDER BY cos DESC, a_id) = 1
), canon AS (
    SELECT b_id AS vec_id, min(a_id) AS canon_id
    FROM p WHERE cos >= {threshold!r} GROUP BY b_id
)
SELECT v.vec_id, v.cell, nn.nn_id, nn.nn_cos,
       coalesce(nn.nn_cos >= {threshold!r}, FALSE) AS is_dup,
       canon.canon_id
FROM v LEFT JOIN nn USING (vec_id) LEFT JOIN canon USING (vec_id)
"""


# --------------------------------------------- duplicate clustering --------
# Connected components over the verified near-dup pairs — the step that
# turns pairwise dedup into "keep one representative per cluster". The
# engine runs min-label propagation ACCELERATED BY POINTER JUMPING: every
# round each vertex first adopts the smallest label among itself and its
# neighbors (one key-partitioned shuffle over the static, checkpointed
# edge list), then follows its own label one hop (l <- l∘l, a narrow
# self-join of the label frame) — so a length-L chain collapses in
# O(log L) rounds, not O(L). Labels are monotone non-increasing and
# always name a reachable vertex, so the fixpoint is exactly "label =
# component minimum" — identical output (and oracle) to plain
# propagation. This is the same O(log n)-round class as the alternating
# large-star/small-star algorithm (Kiveris et al., SoCC 2014) but keeps
# the edge frame immutable (alternating-star rewrites the EDGE set every
# round — two edge-sized shuffles/round and a harder convergence test);
# the per-round convergence check here is a driver-side scalar
# (documented, same class as the resume-cursor reads).
CC_MAX_ROUNDS = 50  # log2-scale bound now: 2^50 vertices, i.e. never


def connected_components(vertices: DataFrame,
                         edges: DataFrame) -> DataFrame:
    """``vertices (doc_id)`` x ``edges (src, dst — one direction)`` ->
    ``(doc_id, label)`` where label is the smallest doc_id in the
    component. See the module comment for the algorithm; the r10
    pointer-jumping step removed the old diameter > CC_MAX_ROUNDS failure
    mode (path-graph pytest at diameter 120)."""
    e = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = vertices.select("doc_id", F.col("doc_id").alias("label"))
    labels = labels.localCheckpoint(eager=True)
    changed_hist: list[int] = []
    for rnd in range(CC_MAX_ROUNDS):
        msgs = (
            e.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        prop = (
            labels.join(msgs, "doc_id", "left")
            .select("doc_id", F.col("label").alias("old_label"),
                    F.least(F.col("label"),
                            F.coalesce("nbr_min", "label")).alias("label"))
        )
        # Pointer jumping costs an extra materialization + self-join per
        # round; on the common quasi-clique dedup graphs (which converge
        # in 2-3 plain rounds) r10 measured that constant at +47%. Engage
        # the hop only when propagation alone is converging slowly: from
        # round 3 on, or earlier if the per-round changed count stalls
        # (> 0.5x the previous round). Worst-case round bound stays
        # O(log L) — the hop is active from round 3 at the latest.
        use_hop = rnd >= 3 or (
            len(changed_hist) >= 2
            and changed_hist[-1] * 2 > changed_hist[-2])
        if use_hop:
            # materialize BEFORE self-joining: otherwise both join inputs
            # re-evaluate the propagation join+agg, and a same-lineage
            # self-join would lean on fragile alias disambiguation. After
            # the checkpoint the hop is a genuinely narrow self-join of a
            # pinned label frame — ONE keyed shuffle per round holds.
            prop = prop.localCheckpoint(eager=True)
            # pointer jump: follow the adopted label one hop (labels
            # always name vertices, so the lookup side is the same frame)
            hop = prop.select(F.col("doc_id").alias("l_key"),
                              F.col("label").alias("l_label"))
            new = (
                prop.join(hop, prop.label == hop.l_key, "left")
                .select("doc_id", "old_label",
                        F.coalesce("l_label", "label").alias("label"))
            )
        else:
            new = prop
        new = new.localCheckpoint(eager=True)
        # convergence check on the just-materialized frame: old_label rode
        # along through the round, so `changed` is a filter-count over the
        # checkpoint — the old form re-joined `new` against `labels` on
        # doc_id, one whole extra shuffle join per round (r15, guide §2.4)
        changed = new.filter(F.col("label") != F.col("old_label")).count()
        changed_hist.append(changed)
        labels = new.select("doc_id", "label")
        if changed == 0:
            break
    else:  # pragma: no cover - 2^CC_MAX_ROUNDS vertices cannot exist
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} "
            f"rounds")
    return labels


def dup_clusters(docs: DataFrame, threshold: float = 0.05) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) — cluster_id is the smallest
    doc_id reachable through :func:`ngram_jaccard_pairs` edges at
    ``threshold``; singleton docs form their own cluster."""
    edges = (ngram_jaccard_pairs(docs, threshold)
             .select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")))
    labels = connected_components(docs.select("doc_id"), edges)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select("doc_id", F.col("label").alias("cluster_id"), "cluster_size")
    )


def dup_clusters_oracle(threshold: float = 0.05) -> str:
    """Recursive-CTE reachability closure: cluster_id = min reachable
    doc_id. Components are tiny (near-dup quasi-cliques), so the closure
    is small even though it enumerates (doc, reachable) pairs."""
    return f"""
WITH RECURSIVE pairs AS (
    {ngram_jaccard_oracle(threshold)}
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(doc_id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON e.src = reach.r
), lab AS (
    SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
), sizes AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM lab GROUP BY cluster_id
)
SELECT doc_id, cluster_id, cluster_size
FROM lab JOIN sizes USING (cluster_id)
"""


# ---- index-backed incremental dedup ----------------------------------
# At 100 TB you cannot re-minhash the corpus every time a batch of new
# documents arrives.  The standard shape is a PERSISTED band-signature
# index: minhash the corpus once, store (doc_id, band, band_sig)
# partitioned by band, and dedup each increment by hashing ONLY the new
# documents and joining their band signatures against the index — the
# corpus text column is never touched again.  The streaming twin
# (streaming/dedup_stream.py) holds the same signatures in operator
# state; this is the batch/lakehouse form with the index on storage.


def write_minhash_index(docs: DataFrame, path: str) -> None:
    """Materialize the band-signature index for ``docs``: one shingle →
    16-hash → min pass (the exact `_minhash_bands` arithmetic), written
    partitioned by band so band-wise joins prune to one directory."""
    _minhash_bands(docs).write.mode("overwrite").partitionBy(
        "band").parquet(path)


def minhash_lsh_incremental(spark, index_path: str, new_docs: DataFrame,
                            max_bucket_size: int = 50) -> DataFrame:
    """Candidate pairs INVOLVING A NEW DOC — new×index plus new×new —
    equal to the full-corpus :func:`minhash_lsh_candidates` restricted
    to pairs with at least one new side (pytest-differential-pinned).

    Cost shape: shingling/hashing touches only the increment; the index
    contributes a column-pruned (band, band_sig) scan for the hot-bucket
    census and the band equi-join.  The hot-bucket cap is computed over
    index ∪ increment, exactly like the batch operator's window, so a
    bucket pushed over the cap by new arrivals drops out on both
    paths.

    Caching contract (ADVICE r12 #3): the increment's band frame is
    consumed by three joins, so it is ``persist()``-ed —
    O(increment × bands) rows, NOT corpus-sized.  The blocks are
    released by Spark's ContextCleaner once the returned plan is no
    longer referenced (or eagerly via ``spark.catalog.clearCache()``)."""
    idx = spark.read.parquet(index_path).select(
        "doc_id", "band", "band_sig")
    new_bands = _minhash_bands(new_docs).persist()
    census = (idx.unionByName(new_bands)
              .groupBy("band", "band_sig")
              .agg(F.count(F.lit(1)).alias("_n"))
              .filter(F.col("_n") <= max_bucket_size)
              .drop("_n"))
    idx_ok = idx.join(census, ["band", "band_sig"])
    new_ok = new_bands.join(census, ["band", "band_sig"])
    n = new_ok.select(F.col("doc_id").alias("doc_n"), "band", "band_sig")
    o = idx_ok.select(F.col("doc_id").alias("doc_o"), "band", "band_sig")
    cross = (n.join(o, ["band", "band_sig"])
             # a re-ingested doc_id present in BOTH index and increment
             # would self-match on every band — the batch operator's
             # strict doc_a < doc_b never emits such a pair
             .filter(F.col("doc_n") != F.col("doc_o"))
             .select(F.least("doc_n", "doc_o").alias("doc_a"),
                     F.greatest("doc_n", "doc_o").alias("doc_b")))
    n2 = new_ok.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
    m2 = new_ok.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
    intra = (n2.join(m2, ["band", "band_sig"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b"))
    return cross.unionByName(intra).distinct()


def minhash_incremental_oracle_sql(new_mod: int = 2,
                                   max_bucket_size: int = 50) -> str:
    """DuckDB replica of the incremental gate fabric: index = docs with
    pmod(doc_id, new_mod) = 0, increment = the rest; the result is the
    full-corpus LSH pair set restricted to pairs with a new side."""
    return f"""
SELECT doc_a, doc_b FROM (
{minhash_lsh_oracle(max_bucket_size)}
) p
WHERE ((doc_a % {new_mod}) + {new_mod}) % {new_mod} <> 0
   OR ((doc_b % {new_mod}) + {new_mod}) % {new_mod} <> 0
"""


# ---- candidate verification by edit distance --------------------------
# LSH generates CANDIDATES; production dedup pipelines verify them with
# an exact similarity before acting (ExactSubstr/NearDup verify stages).
# Both engines ship the same unit-cost Levenshtein, so the verify stage
# is JVM-side on Spark and oracle-exact on DuckDB — no Python DP loop.

NEAR_DUP_MIN_SIM = 0.8


def near_dup_verify(pairs: DataFrame, docs: DataFrame,
                    min_sim: float = NEAR_DUP_MIN_SIM,
                    ascii_only: bool = False) -> DataFrame:
    """Verify candidate pairs (doc_a, doc_b) by normalized edit
    similarity on the fingerprint-normalized text: sim = 1 - lev/maxlen.
    Returns (doc_a, doc_b, dist, sim, is_near_dup).

    Scale shape: the corpus is first SEMI-JOINED down to the candidate
    doc_ids (candidates ≪ corpus — LSH already did the pruning), so the
    normalization regex and the text shuffle are paid only for pair
    members, then the edit distance runs inside codegen on the pair
    rows.  Never all-pairs; cost is O(candidates × len²).

    Engine variance note: Spark's levenshtein counts CODEPOINT edits,
    DuckDB's counts BYTE edits — identical on ASCII, divergent on
    multi-byte text (`café`/`cafe`: 1 vs 2).  ``ascii_only=True``
    applies the codec gates' ``length == octet_length`` guard HERE, on
    the hydration side, so the operator and its DuckDB oracle (which
    carries the same filter in its ``norm`` CTE) agree on the row set
    BY CONSTRUCTION — a pair with a non-ASCII member is dropped by both
    engines' inner joins, never by only one (ADVICE r12 #1).  The gate
    passes True; on a production (non-ASCII) corpus the default False
    keeps every pair and the Spark codepoint semantics are the intended
    ones (the oracle then does not apply)."""
    if ascii_only:
        docs = docs.filter(
            F.length("text") == F.octet_length("text"))
    ids = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
           .distinct())
    norm = docs.join(ids, "doc_id").select(
        "doc_id", F.lower(F.trim(F.regexp_replace(
            F.col("text"), "[ \\t\\n\\r\\x0B\\f]+", " "))).alias("t"))
    a = norm.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = norm.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"))
    dist = F.levenshtein("ta", "tb")
    maxlen = F.greatest(F.length("ta"), F.length("tb"))
    sim = F.when(maxlen > 0, 1.0 - dist / maxlen).otherwise(F.lit(1.0))
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b",
                    dist.cast("long").alias("dist"),
                    F.round(sim, 9).alias("sim"),
                    (F.round(sim, 9) >= min_sim).alias("is_near_dup")))


def near_dup_verify_oracle_sql(min_sim: float = NEAR_DUP_MIN_SIM,
                               max_bucket_size: int = 50) -> str:
    """DuckDB replica at the gate fabric: MinHash-LSH candidates
    (the registered minhash_lsh oracle) verified by the same
    normalized Levenshtein."""
    return f"""
WITH pairs AS (
{minhash_lsh_oracle(max_bucket_size)}
), norm AS (
    -- ASCII guard: DuckDB levenshtein is byte-based, Spark's is
    -- codepoint-based; the gate contract restricts to the domain where
    -- they coincide (see near_dup_verify docstring)
    SELECT doc_id,
           lower(trim(regexp_replace(text,
               '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g'))) AS t
    FROM documents
    WHERE length(text) = octet_length(encode(text))
), hydrated AS (
    SELECT p.doc_a, p.doc_b,
           levenshtein(na.t, nb.t) AS dist,
           greatest(length(na.t), length(nb.t)) AS maxlen
    FROM pairs p
    JOIN norm na ON na.doc_id = p.doc_a
    JOIN norm nb ON nb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist,
       round(CASE WHEN maxlen > 0
                  THEN 1.0 - dist / maxlen ELSE 1.0 END, 9) AS sim,
       round(CASE WHEN maxlen > 0
                  THEN 1.0 - dist / maxlen ELSE 1.0 END, 9)
           >= {min_sim} AS is_near_dup
FROM hydrated
"""
