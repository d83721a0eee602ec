"""LLM-pipeline operator tests: oracle differentials are covered by the
driver gate (tools/verify_local.py); here we test what the gate can't —
LSH recall vs brute force, and the multimodal plumbing invariants."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from obadiah_spark.pipelines.dedup import minhash_lsh_candidates, ngram_jaccard_pairs
from obadiah_spark.pipelines.multimodal import multimodal_features, pack_blobs
from obadiah_spark.pipelines.similarity import (
    IVF_CELLS,
    ann_bruteforce,
    ann_ivf,
    ann_lsh_pairs,
)


def test_lsh_recall_vs_bruteforce(spark):
    """Every true top-1 neighbor with high cosine should surface in the LSH
    candidate set (sign-LSH recall grows with cosine; at 12 planes x 4
    tables, cos>=0.45 pairs collide with probability >0.97)."""
    emb = spark.table("embeddings")
    bf = ann_bruteforce(emb, n_queries=20, k=1).toPandas()
    lsh = ann_lsh_pairs(emb).toPandas()
    cand = {tuple(sorted(p)) for p in zip(lsh.vec_a, lsh.vec_b)}
    strong = bf[bf.cosine >= 0.45]
    if len(strong) == 0:
        return  # synthetic embeddings too uniform at this sf — nothing to check
    hits = sum(tuple(sorted((q, v))) in cand for q, v in zip(strong.q_id, strong.vec_id))
    assert hits / len(strong) >= 0.5, f"LSH recall too low: {hits}/{len(strong)}"


def test_ivf_probe_all_equals_bruteforce(spark):
    """With n_probe >= n_cells every cell is probed, so IVF must reduce to
    the exact brute-force result bit-for-bit — the structural invariant that
    the assignment/probe/re-score pipeline loses nothing except by *pruning*
    (which probe-all disables)."""
    import pandas as pd

    emb = spark.table("embeddings")
    bf = (ann_bruteforce(emb, n_queries=8, k=3).toPandas()
          .sort_values(["q_id", "rank"]).reset_index(drop=True))
    ivf = (ann_ivf(emb, n_queries=8, k=3, n_probe=IVF_CELLS).toPandas()
           .sort_values(["q_id", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(bf, ivf)


def test_ivf_default_probe_is_a_subset(spark):
    """At the default n_probe the result is a (possibly pruned) subset of
    brute-force pairs with identical cosines — IVF may miss neighbors in
    unprobed cells but must never invent or mis-score one."""
    emb = spark.table("embeddings")
    bf = ann_bruteforce(emb, n_queries=8, k=50).toPandas()
    exact = {(q, v): c for q, v, c in zip(bf.q_id, bf.vec_id, bf.cosine)}
    ivf = ann_ivf(emb, n_queries=8, k=3).toPandas()
    assert len(ivf) > 0
    for q, v, c in zip(ivf.q_id, ivf.vec_id, ivf.cosine):
        if (q, v) in exact:  # k=50 may still truncate below a weak candidate
            assert exact[(q, v)] == c


def test_winnow_coverage_guarantee(spark):
    """Winnowing's coverage property: two docs sharing a substring of
    length >= K + WIN - 1 must share at least one fingerprint (every
    window of WIN consecutive k-grams contributes its min, so a shared run
    of WIN k-grams — i.e. K+WIN-1 chars — always surfaces)."""
    from obadiah_spark.pipelines.text import WINNOW_K, WINNOW_WIN, winnow_fingerprints
    from pyspark.sql import functions as SF

    shared = "zqxjkvwpyzqxjkvwpy"  # 18 chars >= K + WIN - 1 = 11
    docs = spark.createDataFrame(
        [(0, "aaaa bbbb cccc " + shared + " dddd eeee"),
         (1, "ffff gggg " + shared + " hhhh iiii jjjj")],
        "doc_id bigint, text string")
    # recompute the per-doc fingerprint SETS (the gate query only exposes
    # the set hash) via the same pipeline internals
    t = SF.lower(SF.trim(SF.regexp_replace(SF.col("text"), r"[ \t\n\r\x0B\f]+", " ")))
    grams = docs.select("doc_id", t.alias("t")).select(
        "doc_id",
        SF.posexplode(SF.expr(
            f"transform(sequence(1, greatest(length(t) - {WINNOW_K - 1}, 1)),"
            f" i -> substring(t, i, {WINNOW_K}))")).alias("pos", "g"))
    from pyspark.sql.window import Window as SW
    w = SW.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_WIN - 1)
    fps = (grams.select("doc_id", "pos", SF.md5("g").alias("h"))
           .select("doc_id", SF.min("h").over(w).alias("fp")).distinct()
           .toPandas())
    s0 = set(fps[fps.doc_id == 0].fp)
    s1 = set(fps[fps.doc_id == 1].fp)
    assert s0 & s1, "shared 18-char substring produced no shared fingerprint"
    # and the gate-shaped summary is stable per doc
    out = winnow_fingerprints(docs).toPandas()
    assert set(out.columns) == {"doc_id", "n_fingerprints", "fp_hash"}
    assert (out.n_fingerprints > 0).all()


def test_winnow_locality(spark):
    """An edit perturbs only fingerprints whose k-gram or window touches
    it: a single-char change in a long doc leaves the bulk of the
    fingerprint set intact (unlike the whole-doc md5 in text_stats)."""
    from obadiah_spark.pipelines.text import winnow_fingerprints

    base = " ".join(f"tok{i:04d}" for i in range(60))
    edited = base[:150] + "Q" + base[151:]
    docs = spark.createDataFrame(
        [(0, base), (1, edited)], "doc_id bigint, text string")
    out = winnow_fingerprints(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "fp_hash"] != out.loc[1, "fp_hash"]
    # counts stay within the blast radius of one edit (K + WIN windows)
    assert abs(int(out.loc[0, "n_fingerprints"]) - int(out.loc[1, "n_fingerprints"])) <= 12


def test_winnow_array_and_row_forms_agree(spark):
    """The map-side array form (winnow_fp_sets) and the explode+window row
    form (_winnow_fp_rows) are two implementations of ONE selection rule —
    they must produce identical per-doc fingerprint sets, including tail
    windows and sub-K docs."""
    from pyspark.sql import functions as SF

    from obadiah_spark.pipelines.text import _winnow_fp_rows, winnow_fp_sets

    docs = spark.table("documents").limit(60).unionByName(
        spark.createDataFrame(
            [(9001, "tiny"), (9002, ""), (9003, "exactly8")],
            "doc_id bigint, text string").withColumn(
                "lang", SF.lit(None).cast("string")).withColumn(
                "source", SF.lit(None).cast("string")).withColumn(
                "n_chars", SF.length("text").cast("bigint")))
    arr = {r["doc_id"]: tuple(r["fps"])
           for r in winnow_fp_sets(docs).collect()}
    rows = (_winnow_fp_rows(docs).groupBy("doc_id")
            .agg(SF.sort_array(SF.collect_list("fp")).alias("fps")).collect())
    row_sets = {r["doc_id"]: tuple(r["fps"]) for r in rows}
    assert arr == row_sets


def test_winnow_dispatch_threshold_is_semantics_free(spark):
    """winnow_fingerprints' length-threshold dispatch (VERDICT r6 task #6)
    must be a pure perf knob: on a mixed corpus, routing everything
    through the array form, everything through the row form, or splitting
    mid-corpus all yield the identical summary."""
    from obadiah_spark.pipelines.text import winnow_fingerprints

    docs = spark.table("documents").limit(40)
    # pick a threshold that genuinely splits the corpus both ways
    lens = sorted(r[0] for r in docs.select(F.length("text")).collect())
    mid = lens[len(lens) // 2]

    def summary(threshold):
        return {r["doc_id"]: (r["n_fingerprints"], r["fp_hash"])
                for r in winnow_fingerprints(
                    docs, array_max_chars=threshold).collect()}

    all_array = summary(10**9)
    assert summary(0) == all_array          # row form only
    assert summary(mid) == all_array        # genuinely mixed
    assert len(all_array) == 40


def test_winnow_pairs_surface_planted_near_dup(spark):
    """A planted near-dup pair (long shared substring, different padding)
    must surface in winnow_pairs; unrelated docs must not pair with it at
    the min_shared threshold."""
    from obadiah_spark.pipelines.text import winnow_pairs

    shared = " ".join(f"uncommon{i:03d}" for i in range(25))  # ~300 chars
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma " + shared + " delta"),
         (1, "epsilon zeta " + shared + " eta theta"),
         (2, "totally different words " * 20)],
        "doc_id bigint, text string")
    pairs = winnow_pairs(docs).toPandas()
    got = {(a, b) for a, b in zip(pairs.doc_a, pairs.doc_b)}
    assert (0, 1) in got, f"planted pair missing: {got}"
    assert not any(2 in p for p in got), f"unrelated doc paired: {got}"


def test_resize_real_and_fallback_paths(spark):
    """resize_images is REAL since r10: image payloads decode through the
    codec dispatch and area-resample (block mean, half-up rounding); the
    PPM re-encode leg must round-trip byte-exact (asserted inside the
    operator); non-image payloads keep the documented stand-in hash with
    decoded = false."""
    import hashlib

    import numpy as np

    from obadiah_spark.pipelines.multimodal import (
        pack_blobs, pack_image_blobs, resize_images)

    text = "".join(chr(32 + (i * 7) % 95) for i in range(120))
    docs = spark.createDataFrame(
        [(0, text, len(text)), (1, text, len(text)), (2, "tiny", 4)],
        "doc_id bigint, text string, n_chars bigint")
    rs = (resize_images(pack_image_blobs(docs), 2, 2)
          .toPandas().set_index("doc_id"))
    # doc 2 is shorter than one source image -> filtered out of the fabric
    assert sorted(rs.index) == [0, 1] and rs.decoded.all()
    assert (rs.width == 2).all() and (rs.height == 2).all()
    assert rs.loc[0, "src_w"] == 4 and rs.loc[1, "src_w"] == 6
    # doc 0 (4x4 BMP): expected = half-up-rounded mean of each 2x2 cell
    raw = np.frombuffer(text.encode()[:48], np.uint8).reshape(4, 4, 3)
    exp = np.floor(raw.astype(np.float64).reshape(2, 2, 2, 2, 3)
                   .mean(axis=(1, 3)) + 0.5).astype(np.uint8)
    assert rs.loc[0, "resized_md5"] == hashlib.md5(exp.tobytes()).hexdigest()
    # fallback: pack_blobs payloads are text bytes, not images
    fb = resize_images(pack_blobs(docs), 2, 2).toPandas()
    assert len(fb) == 3 and not fb.decoded.any()


def test_area_resample_general_ratio():
    """The non-integer-factor path: box weights partition unity, constant
    images stay constant, and total brightness is conserved."""
    import numpy as np

    from obadiah_spark.pipelines.multimodal import _box_weights, area_resample

    for src, dst in [(7, 3), (5, 2), (4, 6), (3, 3)]:
        w = _box_weights(src, dst)
        assert np.allclose(w.sum(axis=1), 1.0)       # rows: convex combos
        assert np.allclose(w.sum(axis=0), dst / src)  # mass conservation
    img = np.full((7, 5, 3), 200, np.uint8)
    out = area_resample(img, 3, 2)
    assert out.shape == (2, 3, 3) and (out == 200).all()
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (9, 7, 1), dtype=np.uint8)
    out = area_resample(img, 3, 3)  # 9->3 exact, 7->3 fractional
    assert abs(float(out.mean()) - float(img.mean())) < 1.5


def test_minhash_candidates_cover_high_jaccard(spark):
    """MinHash-LSH (16 hashes, 4x4 bands) must surface every pair with
    jaccard >= 0.7 (collision prob >= 1-(1-0.7^4)^4 ~ 0.77 per band set —
    at these sizes the synthetic corpus has only identical-ish pairs)."""
    docs = spark.table("documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.7).toPandas()
    cand = minhash_lsh_candidates(docs).toPandas()
    cset = {tuple(sorted(p)) for p in zip(cand.doc_a, cand.doc_b)}
    missed = [
        (a, b) for a, b in zip(exact.doc_a, exact.doc_b)
        if tuple(sorted((a, b))) not in cset
    ]
    assert not missed, f"high-jaccard pairs missed by LSH: {missed}"


def test_bmp_decode_roundtrip():
    """The real decode path (VERDICT r6 task #7): a synthetic 24-bit BMP
    round-trips through encode_bmp -> decode_image with exact dimensions
    and pixel bytes (incl. stride padding removal on a non-multiple-of-4
    row width); compressed formats still raise the honest stub."""
    import pytest as _pytest

    from obadiah_spark.pipelines.multimodal import decode_image, encode_bmp

    w, h = 5, 3  # 15-byte rows -> 1 pad byte per stored row
    pixels = bytes(range(w * h * 3))
    img = decode_image(encode_bmp(w, h, pixels))
    assert (img["width"], img["height"], img["bpp"]) == (w, h, 24)
    assert img["pixels"] == pixels
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\nnot-actually-decodable")
    # 'BM' prefix alone must NOT enter the BMP path (strict validation)
    with _pytest.raises(NotImplementedError):
        decode_image(b"BM" + b"x" * 100)


def test_ppm_decode_roundtrip_and_dispatch():
    """The second real decode path: binary P6 PPM round-trips through
    encode_ppm -> decode_image (incl. header comments), strict validation
    rejects P6-prefixed garbage, and format dispatch picks the right
    decoder per payload."""
    import pytest as _pytest

    from obadiah_spark.pipelines.multimodal import (
        _try_decode_ppm, decode_image, encode_bmp, encode_ppm)

    w, h = 4, 3
    pixels = bytes((i * 11) % 256 for i in range(w * h * 3))
    img = decode_image(encode_ppm(w, h, pixels))
    assert (img["width"], img["height"], img["bpp"]) == (w, h, 24)
    assert img["pixels"] == pixels
    # comments between header tokens are legal PPM
    commented = b"P6\n# made by a test\n4 3\n255\n" + pixels
    assert _try_decode_ppm(commented)["pixels"] == pixels
    # strict: 'P6' prefix alone, or a truncated pixel array, never decodes
    with _pytest.raises(NotImplementedError):
        decode_image(b"P6 but not really an image at all........")
    with _pytest.raises(NotImplementedError):
        decode_image(b"P6\n4 3\n255\n" + pixels[:-1])
    # dispatch: the BMP encoding of the same pixels decodes via the BMP
    # path to identical dimensions (pixel order differs: BMP is BGR)
    bmp = decode_image(encode_bmp(w, h, pixels))
    assert (bmp["width"], bmp["height"]) == (w, h)


def test_lsh_projection_sign_margin():
    """The ann_lsh_pairs oracle recomputes signatures in DuckDB; the two
    engines agree on every `projection > 0` bit only while no projection
    sits within float-summation noise of zero. Pin the margin: the
    smallest |projection| on the gate corpus must exceed 1e-9 (measured
    ~3e-6), so an embeddings-fabric change that erodes it fails HERE with
    a diagnosis instead of as an opaque gate hash mismatch."""
    import duckdb

    from conftest import SF_DIR
    from obadiah_spark.pipelines.similarity import (
        LSH_PLANES, LSH_TABLES, _plane_weights)

    pdf = duckdb.sql(
        f"SELECT CAST(embedding AS DOUBLE[]) e "
        f"FROM '{SF_DIR}/embeddings.parquet'").fetchdf()
    E = np.stack(pdf["e"].to_numpy())
    w = _plane_weights(E.shape[1], LSH_TABLES, LSH_PLANES)
    margin = min(abs(E @ w[t].T).min() for t in range(LSH_TABLES))
    assert margin > 1e-9, f"LSH sign margin collapsed to {margin}"


def test_png_decode_roundtrip_all_filters():
    """The third real decode path (VERDICT r8 task #6): 8-bit PNG via
    stdlib zlib + scanline defiltering. Every filter type (None/Sub/Up/
    Average/Paeth) and color type (grey/RGB/RGBA) round-trips through
    encode_png -> decode_image bit-exactly; strict container validation
    rejects signature-prefixed garbage, a flipped CRC, and trailing
    bytes."""
    import pytest as _pytest

    from obadiah_spark.pipelines.multimodal import (
        _png_header, decode_image, encode_png)

    w, h = 5, 4
    for color, ch in ((0, 1), (2, 3), (6, 4)):
        pixels = bytes((i * 13 + color) % 256 for i in range(w * h * ch))
        for ft in range(5):
            png = encode_png(w, h, pixels, color=color, filter_type=ft)
            img = decode_image(png)
            assert (img["width"], img["height"], img["bpp"]) == (w, h, ch * 8), \
                f"color={color} filter={ft}"
            assert img["pixels"] == pixels, f"color={color} filter={ft}"
            hd = _png_header(png)
            assert (hd["width"], hd["height"]) == (w, h)
    png = encode_png(w, h, bytes(w * h * 3), color=2)
    # flipped CRC byte, truncation, and trailing garbage all reject
    bad_crc = png[:-1] + bytes([png[-1] ^ 1])
    for bad in (bad_crc, png[:-4], png + b"x",
                b"\x89PNG\r\n\x1a\n" + b"junk" * 10):
        assert _png_header(bad) is None
        with _pytest.raises(NotImplementedError):
            decode_image(bad)


def test_image_dims_header_only_matches_decode():
    """The header-only dims parsers (ADVICE r8: feature extraction must
    not pay O(pixels)) agree with the full decoders on every format, and
    reject what the decoders reject."""
    from obadiah_spark.pipelines.multimodal import (
        decode_image, encode_bmp, encode_png, encode_ppm, image_dims)

    w, h = 7, 3
    pixels = bytes((i * 5) % 256 for i in range(w * h * 3))
    for enc in (encode_bmp, encode_ppm, encode_png):
        raw = enc(w, h, pixels)
        full = decode_image(raw)
        dims = image_dims(raw)
        assert (dims["width"], dims["height"]) == (full["width"], full["height"])
    assert image_dims(b"not an image") is None
    assert image_dims(b"BM" + b"x" * 100) is None


def test_extract_features_reports_decoded_png_dims(spark):
    """A genuine PNG payload flows through extract_features with its real
    header-parsed dimensions (the gate path for the dominant real-corpus
    format)."""
    from obadiah_spark.pipelines.multimodal import encode_png, extract_features

    w, h = 9, 2
    png = encode_png(w, h, bytes((i * 3) % 256 for i in range(w * h * 3)),
                     filter_type=4)
    blobs = spark.createDataFrame(
        [(1, "image/png", bytearray(png), (999, 888))],
        "doc_id bigint, media_type string, payload binary, "
        "meta struct<width:int, height:int>")
    got = extract_features(blobs).toPandas().set_index("doc_id")
    assert (got.loc[1, "width"], got.loc[1, "height"]) == (w, h)


def test_extract_features_reports_decoded_bmp_dims(spark):
    """A genuine BMP payload flows through extract_features with its REAL
    decoded width/height; a text payload keeps the metadata stand-in."""
    from obadiah_spark.pipelines.multimodal import encode_bmp, extract_features

    w, h = 6, 4
    bmp = encode_bmp(w, h, bytes((i * 7) % 256 for i in range(w * h * 3)))
    blobs = spark.createDataFrame(
        [(1, "image/bmp", bytearray(bmp), (999, 888)),
         (2, "image/fake", bytearray(b"not an image"), (11, 22))],
        "doc_id bigint, media_type string, payload binary, "
        "meta struct<width:int, height:int>")
    got = extract_features(blobs).toPandas().set_index("doc_id")
    assert (got.loc[1, "width"], got.loc[1, "height"]) == (w, h)
    assert (got.loc[2, "width"], got.loc[2, "height"]) == (11, 22)
    assert got.loc[1, "byte_len"] == len(bmp)


def test_multimodal_plumbing(spark):
    docs = spark.table("documents")
    blobs = pack_blobs(docs)
    assert dict(blobs.dtypes)["payload"] == "binary"
    feats = multimodal_features(docs)
    pdf = feats.toPandas()
    n = docs.count()
    assert len(pdf) == n
    assert (pdf.byte_len > 0).all()
    assert pdf.payload_md5.str.len().eq(32).all()
    # metadata survives the Arrow round-trip
    joined = feats.join(docs, "doc_id").filter(
        F.col("byte_len") != F.length(F.encode(F.col("text"), "utf-8"))
    )
    assert joined.count() == 0


def test_embedding_dedup_lsh_recall(spark):
    """The LSH-bucketed dedup sweep must flag most of the exact sweep's
    dups (and never flag a non-dup: candidates are exact-scored)."""
    from conftest import SF_DIR

    from obadiah_spark.pipelines.dedup import (
        embedding_dedup, embedding_dedup_lsh)
    from obadiah_spark.session import read_table

    emb = read_table(spark, SF_DIR, "embeddings").filter("vec_id < 800")
    exact = {r.vec_id for r in embedding_dedup(emb).collect() if r.is_dup}
    approx = {r.vec_id for r in embedding_dedup_lsh(emb).collect() if r.is_dup}
    assert approx <= exact          # no false positives (exact rescoring)
    if exact:
        assert len(approx) / len(exact) >= 0.5


def test_ivf_trained_codebook_recall_not_worse(spark):
    """The Lloyd's-trained codebook must recall at least as many true
    brute-force neighbors as the raw stride seed it starts from (VERDICT
    r6 task #2: 'trained codebook drops in' as a tested fact, not a
    design note)."""
    from obadiah_spark.pipelines.similarity import IVF_ITERS

    emb = spark.table("embeddings")
    k = 5
    bf = ann_bruteforce(emb, n_queries=10, k=k).toPandas()
    truth = set(zip(bf.q_id, bf.vec_id))

    def recall(iters: int) -> float:
        got = ann_ivf(emb, n_queries=10, k=k, iters=iters).toPandas()
        hits = sum((q, v) in truth for q, v in zip(got.q_id, got.vec_id))
        return hits / len(truth)

    seed, trained = recall(0), recall(IVF_ITERS)
    assert trained >= seed, f"trained {trained} < seed {seed}"
    assert trained > 0


def test_ivf_precomputed_codebook_equals_in_query(spark, tmp_path):
    """ann_ivf(codebook=...) — the train-once production path (VERDICT r7
    task #2) — must produce exactly the in-query-training result, both for
    an eagerly checkpointed codebook and for one round-tripped through
    parquet."""
    import pandas as pd

    from obadiah_spark.pipelines.similarity import train_ivf_codebook

    emb = spark.table("embeddings")
    base = (ann_ivf(emb, n_queries=8, k=3).toPandas()
            .sort_values(["q_id", "rank"]).reset_index(drop=True))
    for path in (None, str(tmp_path / "codebook")):
        cb = train_ivf_codebook(emb, path=path)
        got = (ann_ivf(emb, n_queries=8, k=3, codebook=cb).toPandas()
               .sort_values(["q_id", "rank"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(base, got)


def test_ivfpq_probe_all_rerank_all_equals_bruteforce(spark):
    """With every cell probed and a re-rank depth covering the whole
    corpus, IVF-PQ's ADC stage prunes nothing and the exact re-score must
    reproduce brute force bit-for-bit — the quantization may only ever
    change WHICH candidates reach the re-score, never their scores."""
    import pandas as pd

    from obadiah_spark.pipelines.similarity import IVF_CELLS, ann_ivfpq

    emb = spark.table("embeddings")
    n = emb.count()
    bf = (ann_bruteforce(emb, n_queries=6, k=3).toPandas()
          .sort_values(["q_id", "rank"]).reset_index(drop=True))
    pq = (ann_ivfpq(emb, n_queries=6, k=3, n_probe=IVF_CELLS,
                    rerank=(n // 3) + 1).toPandas()
          .sort_values(["q_id", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(bf, pq, check_dtype=False)


def test_ivfpq_recall_vs_ivf_flat_ceiling(spark):
    """At the default settings the PQ path must recover most of what the
    IVF probes can see at all (the flat exact re-score of every probed
    candidate is the ceiling — probe misses are the coarse quantizer's
    doing, not PQ's). Uniform random embeddings are PQ's adversarial
    case, hence a relative bound, not an absolute one."""
    from obadiah_spark.pipelines.similarity import ann_ivfpq

    emb = spark.table("embeddings")
    bf = ann_bruteforce(emb, n_queries=10, k=3).toPandas()
    truth = {(q, v) for q, v in zip(bf.q_id, bf.vec_id)}
    ivf = ann_ivf(emb, n_queries=10, k=3).toPandas()
    ceiling = len(truth & {(q, v) for q, v in zip(ivf.q_id, ivf.vec_id)})
    pq = ann_ivfpq(emb, n_queries=10, k=3).toPandas()
    got = len(truth & {(q, v) for q, v in zip(pq.q_id, pq.vec_id)})
    assert ceiling > 0, "IVF ceiling vacuous — probe config broken"
    assert got >= ceiling * 2 / 3, (
        f"IVF-PQ recovers {got}/{ceiling} of the IVF-flat ceiling")


def test_pq_trained_subcodebooks(spark):
    """Lloyd-trained sub-codebooks (r11): deterministic, schema-compatible,
    and on a CLUSTERED corpus (mixture of Gaussians — the realistic shape;
    uniform data is PQ's adversarial case where training gains ~nothing)
    the trained ADC ordering must beat the stride seed. The exactness
    invariant also holds: probe-all + rerank-all with a trained book is
    still bit-for-bit brute force (training changes candidate ORDER, never
    re-scored values)."""
    import numpy as np
    import pandas as pd

    from obadiah_spark.pipelines.similarity import (
        IVF_CELLS, ann_ivfpq, pq_subcodebooks, pq_train_subcodebooks)

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for vid in range(400):
        r = np.random.default_rng(1000 + vid)
        v = centers[vid % 8] + r.normal(scale=0.15, size=64)
        rows.append((vid, [float(x) for x in v.astype(np.float32)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb = emb.localCheckpoint(eager=True)
    # stride 7 (not the 61 default): a 400-vector fixture must still seed
    # all 16 sub-centroids
    t1 = pq_train_subcodebooks(emb, stride=7).toPandas() \
        .sort_values(["m", "j"])
    t2 = pq_train_subcodebooks(emb, stride=7).toPandas() \
        .sort_values(["m", "j"])
    pd.testing.assert_frame_equal(t1.reset_index(drop=True),
                                  t2.reset_index(drop=True))
    seeded_cb = pq_subcodebooks(emb, stride=7).toPandas()
    assert set(zip(t1.m, t1.j)) == set(zip(seeded_cb.m, seeded_cb.j))
    assert set(zip(t1.m, t1.j)) == {(m, j) for m in range(4)
                                    for j in range(16)}
    bf = ann_bruteforce(emb, n_queries=16, k=5).toPandas()
    truth = {(q, v) for q, v in zip(bf.q_id, bf.vec_id)}

    def hits(subcb):
        got = ann_ivfpq(emb, n_queries=16, k=5, rerank=1,
                        subcodebook=subcb).toPandas()
        return len(truth & {(q, v) for q, v in zip(got.q_id, got.vec_id)})

    seeded = hits(pq_subcodebooks(emb, stride=7))
    trained = hits(pq_train_subcodebooks(emb, stride=7))
    assert trained > seeded, (trained, seeded)
    n = emb.count()
    exact = (ann_ivfpq(emb, n_queries=4, k=3, n_probe=IVF_CELLS,
                       rerank=(n // 3) + 1,
                       subcodebook=pq_train_subcodebooks(emb, stride=7))
             .toPandas()
             .sort_values(["q_id", "rank"]).reset_index(drop=True))
    bf4 = (ann_bruteforce(emb, n_queries=4, k=3).toPandas()
           .sort_values(["q_id", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(bf4, exact, check_dtype=False)


def test_dup_clusters_path_component(spark):
    """A path-shaped component (a-b, b-c, c-d share shingles pairwise-
    adjacently but not end-to-end) must still collapse to ONE cluster —
    the transitive closure the propagation rounds exist for — and an
    unrelated doc stays a singleton."""
    from obadiah_spark.pipelines.dedup import dup_clusters

    # 8-char shingles; adjacent docs share a long run, ends don't
    seg = ["alpha bravo charlie delta echo",
           "foxtrot golf hotel india juliet",
           "kilo lima mike november oscar",
           "papa quebec romeo sierra tango"]
    docs = spark.createDataFrame(
        [(0, seg[0] + " " + seg[1]),
         (1, seg[1] + " " + seg[2]),
         (2, seg[2] + " " + seg[3]),
         (3, seg[3] + " uniform victor whiskey xray yankee"),
         (9, "zulu " * 12)],
        "doc_id bigint, text string")
    out = {r.doc_id: r for r in dup_clusters(docs, threshold=0.05).collect()}
    assert out[0].cluster_id == out[1].cluster_id == out[2].cluster_id \
        == out[3].cluster_id == 0
    assert out[0].cluster_size == 4
    assert out[9].cluster_id == 9 and out[9].cluster_size == 1


def test_connected_components_long_path(spark):
    """VERDICT r9 task #8: a path graph with diameter 120 (>
    CC_MAX_ROUNDS) must converge — pointer jumping collapses a length-L
    chain in O(log L) propagation rounds, where the old pure min-label
    loop needed L rounds and raised RuntimeError past 50."""
    from obadiah_spark.pipelines.dedup import connected_components

    n = 121  # vertices 0..120 in a single chain + 2 singletons
    vertices = spark.createDataFrame(
        [(i,) for i in range(n)] + [(500,), (501,)], "doc_id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint")
    labels = {r.doc_id: r.label for r in
              connected_components(vertices, edges).collect()}
    assert all(labels[i] == 0 for i in range(n))
    assert labels[500] == 500 and labels[501] == 501
