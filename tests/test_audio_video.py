"""RIFF/WAV + motion-JPEG tests: strictness and lossless round-trips the
gate relies on, plus behaviors the gate can't see (8-bit WAV, stereo,
length-prefix frame skipping)."""

from __future__ import annotations

import numpy as np

from obadiah_spark.pipelines.audio import encode_wav, wav_decode, wav_header
from obadiah_spark.pipelines.jpeg import encode_jpeg, jpeg_decode
from obadiah_spark.pipelines.video import mjpeg_pack, mjpeg_unpack


def test_wav_16bit_roundtrip_exact():
    s = np.arange(-32768, 32768, 257, dtype=np.int32)
    dec = wav_decode(encode_wav(s, 44100))
    assert dec is not None
    assert dec["sample_rate"] == 44100 and dec["bits"] == 16
    assert (dec["samples"][:, 0] == s).all()


def test_wav_8bit_and_stereo():
    d8 = wav_decode(encode_wav(np.array([-128, 0, 127]), 8000, bits=8))
    assert d8 is not None and d8["bits"] == 8
    assert (d8["samples"][:, 0] == [-128, 0, 127]).all()
    st = np.array([[1, -1], [300, -300], [0, 7]])
    ds = wav_decode(encode_wav(st, 16000))
    assert ds is not None and ds["channels"] == 2
    assert (ds["samples"] == st).all()


def test_wav_strictness():
    wav = encode_wav(np.arange(10), 8000)
    assert wav_decode(wav[:-3]) is None          # RIFF size mismatch
    assert wav_decode(wav + b"x") is None        # trailing garbage
    assert wav_decode(b"RIFF\x04\x00\x00\x00WAVE") is None  # no fmt/data
    assert wav_header(b"not audio") is None
    # inconsistent byte rate must be rejected
    bad = bytearray(wav)
    bad[28] ^= 0xFF  # byte_rate field
    assert wav_decode(bytes(bad)) is None


def test_mjpeg_pack_walk_and_selective_decode():
    vals = (30, 90, 150, 210)
    frames = [encode_jpeg(8, 8, bytes([v] * 64), channels=1) for v in vals]
    blob = mjpeg_pack(frames)
    # full walk
    allf = mjpeg_unpack(blob)
    assert [f for f, _ in allf] == [0, 1, 2, 3]
    # selective walk returns exactly the sampled frames, decodable
    got = mjpeg_unpack(blob, only={0, 2})
    assert [f for f, _ in got] == [0, 2]
    for fno, fr in got:
        img = jpeg_decode(fr)
        assert img["pixels"] == bytes([vals[fno]] * 64)


def test_mjpeg_sample_fanout_cardinality(spark):
    """The contract absorbed from the retired frame_sample gate (r10):
    rows per doc = ceil(min(len(text), MAX_FRAMES) / every) — output
    cardinality is data-dependent, and sampled indices are 0, 2, ..."""
    import math

    from obadiah_spark.pipelines.video import (
        MJPEG_EVERY, MJPEG_MAX_FRAMES, mjpeg_sample)

    docs = spark.createDataFrame(
        [(0, "abcdefghij"), (1, "abc"), (2, "x"), (3, "")],
        "doc_id bigint, text string")
    out = mjpeg_sample(docs).toPandas()

    def expect(n):
        return math.ceil(min(n, MJPEG_MAX_FRAMES) / MJPEG_EVERY)

    counts = out.groupby("doc_id").size().to_dict()
    assert counts == {0: expect(10), 1: expect(3), 2: expect(1)}  # 3: empty
    assert set(out[out.doc_id == 0].frame_no) == {0, 2, 4, 6}


def test_wav_pos_weighted_pins_sample_order(spark):
    """ADVICE r9: on the PCM leg every ASCII sample is negative, so
    zero_crossings is 0 there — pos_weighted is the order pin: same byte
    multiset, different order => different value. doc_id % 3 == 0 keeps
    the PCM leg (1 is mu-law since r11, 2 is A-law since r12)."""
    from obadiah_spark.pipelines.audio import wav_roundtrip

    docs = spark.createDataFrame([(0, "ab"), (3, "ba")],
                                 "doc_id bigint, text string")
    out = wav_roundtrip(docs).toPandas().set_index("doc_id")
    assert (out.codec == "pcm").all()
    assert out.loc[0, "sum_sq"] == out.loc[3, "sum_sq"]
    assert (out.zero_crossings == 0).all()
    a, b = ord("a") - 128, ord("b") - 128
    assert out.loc[0, "pos_weighted"] == 1 * a + 2 * b
    assert out.loc[3, "pos_weighted"] == 1 * b + 2 * a
    assert out.loc[0, "pos_weighted"] != out.loc[3, "pos_weighted"]


def test_wav_gate_mulaw_leg_quantizes_and_crosses_zero(spark):
    """doc_id % 3 == 1 runs G.711 mu-law: samples quantize to the
    companding grid ('a','b' both land on -32), and quiet bytes
    (|v| < 4, e.g. '~') decode to exactly 0, flipping the sign — the
    corpus fabric (lowercase + space) never produces such a byte, so
    this pin, not the gate hash, carries the 0-decode behavior."""
    from obadiah_spark.pipelines.audio import wav_roundtrip

    docs = spark.createDataFrame([(1, "ab"), (4, "a~a")],
                                 "doc_id bigint, text string")
    out = wav_roundtrip(docs).toPandas().set_index("doc_id")
    assert (out.codec == "ulaw").all() and (out.bits == 8).all()
    assert out.loc[1, "sum_sq"] == 32 * 32 * 2    # both quantize to -32
    # 'a' -> -32, '~' (126) -> v=-2 -> decodes to 0: two sign flips
    assert out.loc[4, "zero_crossings"] == 2
    assert out.loc[4, "pos_weighted"] == 1 * -32 + 2 * 0 + 3 * -32


def test_wav_gate_alaw_leg_matches_segment0_closed_form(spark):
    """doc_id % 3 == 2 runs G.711 A-law (fmt tag 6, driven r12): every
    printable-ASCII magnitude sits in segment 0, where
    decode(encode(v)) == -(16 * ((|v| - 1) // 16) + 8) — the oracle's
    closed form. 'a' (v=-31, mag 30) -> -24; '~' (v=-2, mag 1) -> -8:
    unlike mu-law, A-law has NO zero code, so no sign flips ever."""
    from obadiah_spark.pipelines.audio import wav_roundtrip

    docs = spark.createDataFrame([(2, "a~")],
                                 "doc_id bigint, text string")
    out = wav_roundtrip(docs).toPandas().set_index("doc_id")
    assert (out.codec == "alaw").all() and (out.bits == 8).all()
    assert out.loc[2, "sum_sq"] == 24 * 24 + 8 * 8
    assert out.loc[2, "zero_crossings"] == 0
    assert out.loc[2, "pos_weighted"] == 1 * -24 + 2 * -8


def test_mjpeg_strictness():
    frames = [encode_jpeg(8, 8, bytes([7] * 64), channels=1)]
    blob = mjpeg_pack(frames)
    assert mjpeg_unpack(blob + b"z") is None     # trailing garbage
    assert mjpeg_unpack(blob[:-2]) is None       # truncated frame
    assert mjpeg_unpack(b"MJPG\x02\x00\x00\x00") is None  # missing frames
    assert mjpeg_unpack(b"AVI \x00\x00\x00\x00") is None  # wrong magic


def test_mulaw_code_domain_idempotent():
    """encode(decode(c)) == c for all 256 codes except -0 (0x7F), which
    canonicalizes to +0 (0xFF) — both decode to 0."""
    import numpy as np

    from obadiah_spark.pipelines.audio import mulaw_decode, mulaw_encode
    codes = np.arange(256, dtype=np.uint8)
    dec = mulaw_decode(codes.tobytes())
    re = np.frombuffer(mulaw_encode(dec), dtype=np.uint8)
    bad = [c for c in range(256) if re[c] != c]
    assert bad == [0x7F] and dec[0x7F] == 0 and re[0x7F] == 0xFF


def test_mulaw_quantization_closed_form_ascii_domain():
    """The oracle's segment-0 closed form must equal the real table
    composition for every ASCII-derived sample."""
    import numpy as np

    from obadiah_spark.pipelines.audio import mulaw_decode, mulaw_encode
    for b in range(32, 127):
        v = b - 128
        got = int(mulaw_decode(mulaw_encode(np.array([v])))[0])
        assert got == -(8 * ((132 - v) // 8) - 128), v


def test_mulaw_full_range_monotone_and_bounded():
    import numpy as np

    from obadiah_spark.pipelines.audio import mulaw_decode, mulaw_encode
    xs = np.arange(-32768, 32768, 7)
    q = mulaw_decode(mulaw_encode(xs))
    assert int(np.abs(q).max()) <= 32124   # G.711 ceiling
    assert np.all(np.diff(q) >= 0)         # companding is monotone


def test_wav_mulaw_roundtrip_and_strictness():
    import struct

    import numpy as np

    from obadiah_spark.pipelines.audio import (mulaw_decode, mulaw_encode,
                                               encode_wav, wav_decode)
    s = (np.arange(64) * 37 % 193 - 96).astype(np.int32)
    wav = encode_wav(s, 8000, codec="ulaw")
    d = wav_decode(wav)
    assert d is not None and d["codec"] == "ulaw" and d["bits"] == 8
    assert np.array_equal(d["samples"][:, 0],
                          mulaw_decode(mulaw_encode(s)))
    # fmt tag 7 with bits != 8 is malformed
    bad = bytearray(wav)
    bad[12 + 8 + 14:12 + 8 + 16] = struct.pack("<H", 16)
    assert wav_decode(bytes(bad)) is None


def test_alaw_code_domain_fully_idempotent():
    """A-law has no double-zero: encode(decode(c)) == c for ALL 256
    codes; the grid is monotone with the 32256 G.711 ceiling."""
    import numpy as np

    from obadiah_spark.pipelines.audio import alaw_decode, alaw_encode
    codes = np.arange(256, dtype=np.uint8)
    dec = alaw_decode(codes.tobytes())
    re = np.frombuffer(alaw_encode(dec), dtype=np.uint8)
    assert np.array_equal(re, codes)
    xs = np.arange(-32768, 32768, 7)
    q = alaw_decode(alaw_encode(xs))
    assert int(np.abs(q).max()) <= 32256
    assert np.all(np.diff(q) >= 0)


def test_wav_alaw_roundtrip_fmt_tag_6():
    import numpy as np

    from obadiah_spark.pipelines.audio import (alaw_decode, alaw_encode,
                                               encode_wav, wav_decode)
    s = (np.arange(80) * 53 % 4001 - 2000).astype(np.int32)
    d = wav_decode(encode_wav(s, 8000, codec="alaw"))
    assert d is not None and d["codec"] == "alaw" and d["bits"] == 8
    assert np.array_equal(d["samples"][:, 0], alaw_decode(alaw_encode(s)))


def test_wav_gate_excludes_control_bytes(spark):
    """Bytes 0x00-0x04 are single-byte (pass octet_length) but their
    mu-law magnitude leaves companding segment 0, where the oracle's
    closed form breaks — the gate filters to printable ASCII on BOTH
    sides, so such docs produce no row rather than a hash mismatch."""
    from obadiah_spark.pipelines.audio import wav_roundtrip

    docs = spark.createDataFrame(
        [(1, "ok text"), (3, "bad\x01byte"), (5, "nul\x00")],
        "doc_id bigint, text string")
    out = wav_roundtrip(docs).toPandas()
    assert set(out.doc_id) == {1}


def test_adpcm_roundtrip_properties():
    """IMA ADPCM: first sample of every block exact, all decoded values
    in int16 range, bounded tracking error on slowly-varying signals,
    multi-block trimming to the fact count."""
    import numpy as np

    from obadiah_spark.pipelines.audio import (ADPCM_BLOCK_ALIGN,
                                               encode_wav, wav_decode)

    per_block = (ADPCM_BLOCK_ALIGN - 4) * 2 + 1
    rng = np.random.default_rng(12)
    for n in (1, 2, 7, per_block, per_block + 1, 3 * per_block - 5):
        s = rng.integers(-30000, 30000, n).astype(np.int32)
        d = wav_decode(encode_wav(s, 8000, codec="adpcm"))
        assert d is not None and d["codec"] == "adpcm"
        got = d["samples"][:, 0]
        assert len(got) == n
        assert got.min() >= -32768 and got.max() <= 32767
        for b in range(0, n, per_block):  # block headers carry sample 0
            assert got[b] == s[b]
    # slow signal: the adaptive step tracks within a small bound
    t = np.arange(2000)
    s = (12000 * np.sin(t / 60)).astype(np.int32)
    got = wav_decode(encode_wav(s, 8000, codec="adpcm"))["samples"][:, 0]
    assert int(np.abs(got - s).max()) < 1500


def test_adpcm_state_machine_hand_pin():
    """First steps from pred=0, idx=0 (step size 7) computed by hand."""
    from obadiah_spark.pipelines.audio import (_adpcm_decode_step,
                                               _adpcm_step)

    # sample 10, pred 0, step 7: delta=10 -> code 4|0|1? 10>=7 (b2),
    # rem 3 >= 3 (b1), rem 0 < 1 -> code 6; diff = 7//8 + 7 + 3 = 10
    code, pred, idx = _adpcm_step(10, 0, 0)
    assert (code, pred, idx) == (6, 10, 6)
    assert _adpcm_decode_step(6, 0, 0) == (10, 6)
    # negative: sample -10 -> sign bit 8, same magnitude path
    code, pred, idx = _adpcm_step(-10, 0, 0)
    assert (code, pred, idx) == (8 | 6, -10, 6)
    # clamp: at max step a full-scale jump sets only the step bit
    # (delta == step leaves no remainder for the half/quarter bits) and
    # the +2 index adaptation clamps at 88
    code, pred, idx = _adpcm_step(32767, 0, 88)
    assert code == 4 and pred == 32767 and idx == 88
    # code 7 needs delta >= step + step/2 + step/4: step 7 -> delta 12;
    # reconstruction is step/8 + step + step/2 + step/4 = 0+7+3+1 = 11
    code, pred, idx = _adpcm_step(12, 0, 0)
    assert code == 7 and pred == 11 and idx == 8


def test_adpcm_header_strictness():
    """fact chunk is REQUIRED and must land in the final block."""
    import struct

    import numpy as np

    from obadiah_spark.pipelines.audio import encode_wav, wav_decode

    s = np.arange(100, dtype=np.int32)
    wav = bytearray(encode_wav(s, 8000, codec="adpcm"))
    assert wav_decode(bytes(wav)) is not None
    fact_pos = bytes(wav).index(b"fact")
    # fact count beyond the single block's capacity -> reject
    bad = bytearray(wav)
    bad[fact_pos + 8:fact_pos + 12] = struct.pack("<I", 600)
    assert wav_decode(bytes(bad)) is None
    # fact chunk excised entirely -> reject (compressed needs fact)
    no_fact = wav[:fact_pos] + wav[fact_pos + 12:]
    no_fact[4:8] = struct.pack("<I", len(no_fact) - 8)
    assert wav_decode(bytes(no_fact)) is None


def test_adpcm_gate_duckdb_differential(spark, sf_dir, duck):
    """The r13 gate oracle: the recursive-CTE state machine must equal
    the Python codec on every document."""
    from tools.verify_local import canonicalize

    from obadiah_spark.pipelines.audio import (adpcm_roundtrip,
                                               adpcm_roundtrip_oracle_sql)
    from obadiah_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = adpcm_roundtrip(docs).toPandas()
    want = duck.execute(adpcm_roundtrip_oracle_sql()).df()
    assert canonicalize(got).equals(canonicalize(want))
    assert len(got) > 0 and (got.peak > 0).all()
