"""Baseline JPEG codec tests: the gate (jpeg_roundtrip) covers the
analytically-exact flat-block subset; here we test the general machinery
it can't — lossy PSNR on real content, 4:4:4 color, non-multiple-of-8
dims, restart markers, strictness, and dims-header agreement."""

from __future__ import annotations

import numpy as np

from obadiah_spark.pipelines.jpeg import (
    GATE_QTABLE,
    encode_jpeg,
    jpeg_decode,
    jpeg_header,
)
from obadiah_spark.pipelines.multimodal import decode_image, image_dims


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
    return 10 * np.log10(255 ** 2 / max(mse, 1e-12))


def test_flat_blocks_roundtrip_exactly():
    """DC step 8 + flat blocks -> the requantization is lossless, so the
    decode must return the input bytes bit-for-bit (the gate's premise)."""
    for va, vb in ((0, 255), (107, 201), (128, 127)):
        px = bytes(([va] * 8 + [vb] * 8) * 8)
        img = jpeg_decode(encode_jpeg(16, 8, px, channels=1))
        assert img is not None
        assert (img["width"], img["height"], img["bpp"]) == (16, 8, 8)
        assert img["pixels"] == px, (va, vb)


def test_grayscale_psnr_nonmultiple_dims():
    rng = np.random.RandomState(7)
    w, h = 29, 17
    base = np.linspace(0, 255, w * h).reshape(h, w)
    orig = np.clip(base + rng.randint(-12, 13, (h, w)), 0, 255).astype(np.uint8)
    blob = encode_jpeg(w, h, orig.tobytes(), channels=1,
                       qtable=np.full((8, 8), 4.0))
    img = jpeg_decode(blob)
    assert img is not None and (img["width"], img["height"]) == (w, h)
    dec = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w)
    assert _psnr(dec, orig) > 38, _psnr(dec, orig)


def test_color_444_psnr():
    w, h = 24, 16
    xs, ys = np.meshgrid(np.arange(w), np.arange(h))
    rgb = np.stack([xs * 10 % 256, ys * 10 % 256, (xs + ys) * 5 % 256],
                   axis=-1).astype(np.uint8)
    blob = encode_jpeg(w, h, rgb.tobytes(), channels=3,
                       qtable=np.full((8, 8), 2.0))
    img = jpeg_decode(blob)
    assert img is not None and img["bpp"] == 24
    dec = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w, 3)
    assert _psnr(dec, rgb) > 40, _psnr(dec, rgb)


def test_420_subsampled_roundtrip():
    """4:2:0 (the dominant real-world layout): encoder downsamples chroma
    2x2-mean and interleaves 4Y+Cb+Cr per MCU; decoder reassembles and
    replicates chroma back up. Luma must survive at full fidelity; the
    chroma loss is bounded (smooth gradients -> ~subsampling error only)."""
    for (w, h) in ((24, 16), (19, 13)):  # incl. non-MCU-multiple dims
        xs, ys = np.meshgrid(np.arange(w), np.arange(h))
        rgb = np.stack([xs * 9 % 256, ys * 11 % 256, (xs + ys) * 4 % 256],
                       axis=-1).astype(np.uint8)
        blob = encode_jpeg(w, h, rgb.tobytes(), channels=3,
                           qtable=np.full((8, 8), 2.0), subsampling="420")
        hd = jpeg_header(blob)
        assert (hd["comps"][0]["h"], hd["comps"][0]["v"]) == (2, 2)
        assert (hd["comps"][1]["h"], hd["comps"][1]["v"]) == (1, 1)
        img = jpeg_decode(blob)
        assert img is not None and (img["width"], img["height"]) == (w, h)
        dec = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(h, w, 3)
        assert _psnr(dec, rgb) > 33, (w, h, _psnr(dec, rgb))
        # luma plane specifically survives near-losslessly at quant step 2
        wts = np.array([0.299, 0.587, 0.114])
        y_in = rgb.astype(float) @ wts
        y_out = dec.astype(float) @ wts
        assert _psnr(y_out, y_in) > 39, _psnr(y_out, y_in)
    # 420 grayscale is rejected at the encoder
    try:
        encode_jpeg(8, 8, bytes(64), channels=1, subsampling="420")
        raise AssertionError("420 grayscale should be rejected")
    except ValueError:
        pass


def test_restart_markers_do_not_change_pixels():
    w, h = 32, 16
    xs, ys = np.meshgrid(np.arange(w), np.arange(h))
    orig = ((xs * 7 + ys * 13) % 256).astype(np.uint8)
    ref = None
    for ri in (0, 1, 3):
        blob = encode_jpeg(w, h, orig.tobytes(), channels=1,
                           qtable=np.full((8, 8), 2.0), restart_interval=ri)
        img = jpeg_decode(blob)
        assert img is not None, f"restart_interval={ri}"
        if ref is None:
            ref = img["pixels"]
        else:
            assert img["pixels"] == ref, f"restart_interval={ri} diverged"


def test_strictness():
    px = bytes(range(128))
    blob = encode_jpeg(16, 8, px, channels=1)
    assert jpeg_decode(b"definitely not a jpeg") is None
    assert jpeg_decode(blob[:-5]) is None       # truncated entropy/EOI
    assert jpeg_decode(blob + b"xx") is None    # trailing garbage
    assert jpeg_decode(blob[2:]) is None        # missing SOI
    assert jpeg_header(b"\xff\xd8\xff") is None
    # a BASELINE-shaped stream remarked as SOF2 is a malformed progressive
    # file (a progressive DC scan requires Se == 0, the baseline SOS says
    # 0..63): it must reject, never run the baseline entropy data
    prog = bytearray(blob)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    assert jpeg_decode(bytes(prog)) is None


def test_progressive_matches_baseline_pixels():
    """The progressive encoder codes the SAME quantized coefficients the
    baseline encoder does, so after full scan accumulation the decode must
    be pixel-IDENTICAL to the baseline decode — across grayscale, 4:4:4,
    4:2:0, and non-multiple-of-8 dims (exercises interleaved DC first +
    refinement, split AC bands, EOB runs, ZRL, and two
    successive-approximation levels)."""
    rng = np.random.default_rng(7)
    for (w, h, ch, sub) in [(16, 8, 1, "444"), (24, 17, 3, "444"),
                            (19, 13, 3, "420"), (8, 8, 1, "444")]:
        px = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
        base = jpeg_decode(encode_jpeg(w, h, px, channels=ch,
                                       subsampling=sub))
        blob = encode_jpeg(w, h, px, channels=ch, subsampling=sub,
                           progressive=True)
        hd = jpeg_header(blob)
        assert hd["progressive"] and (hd["width"], hd["height"]) == (w, h)
        prog = jpeg_decode(blob)
        assert prog is not None, (w, h, ch, sub)
        assert prog["pixels"] == base["pixels"], (w, h, ch, sub)
        # the multimodal dispatch picks progressive JPEG up transparently
        assert image_dims(blob) == {"width": w, "height": h}


def test_progressive_restart_markers():
    """DRI applies to every progressive scan: RSTn must reset the DC
    predictors AND the EOB run mid-scan without changing a single pixel."""
    rng = np.random.default_rng(11)
    w, h = 33, 26
    px = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    base = jpeg_decode(encode_jpeg(w, h, px, channels=3))
    for ri in (1, 3):
        prog = jpeg_decode(encode_jpeg(w, h, px, channels=3,
                                       progressive=True,
                                       restart_interval=ri))
        assert prog is not None and prog["pixels"] == base["pixels"], ri
    px = rng.integers(0, 256, size=40 * 24 * 3, dtype=np.uint8).tobytes()
    base = jpeg_decode(encode_jpeg(40, 24, px, channels=3,
                                   subsampling="420"))
    prog = jpeg_decode(encode_jpeg(40, 24, px, channels=3,
                                   subsampling="420", progressive=True,
                                   restart_interval=2))
    assert prog is not None and prog["pixels"] == base["pixels"]


def test_progressive_flat_blocks_roundtrip_exactly():
    """The analytic flat-block exactness carries over: all AC vanish, the
    DC path accumulates pred<<1 then the refinement bit — still lossless
    with the gate quant table."""
    tile = np.repeat(np.repeat(np.arange(4 * 6).reshape(4, 6) * 9 % 256,
                               8, 0), 8, 1)
    px = tile.astype(np.uint8).tobytes()
    out = jpeg_decode(encode_jpeg(48, 32, px, channels=1, progressive=True))
    assert out["pixels"] == px


def test_422_subsampled_roundtrip():
    """4:2:2 (r11 — luma 2x1, horizontal-only chroma downsample): header
    reports the sampling, decode PSNR holds on smooth content, restart
    markers are pixel-neutral, and the progressive path decodes to
    pixel-IDENTICAL output (same quantized coefficients)."""
    for (w, h) in [(16, 8), (23, 11), (40, 24)]:
        xs, ys = np.meshgrid(np.arange(w), np.arange(h))
        rgb = np.stack([xs * 200 // max(w - 1, 1),
                        ys * 200 // max(h - 1, 1),
                        (xs + ys) * 150 // max(w + h - 2, 1)],
                       -1).astype(np.uint8)
        px = rgb.tobytes()
        blob = encode_jpeg(w, h, px, channels=3, subsampling="422",
                           qtable=np.full((8, 8), 2.0))
        hd = jpeg_header(blob)
        assert [(c["h"], c["v"]) for c in hd["comps"]] == \
            [(2, 1), (1, 1), (1, 1)]
        out = jpeg_decode(blob)
        got = np.frombuffer(out["pixels"], np.uint8).reshape(h, w, 3)
        assert _psnr(rgb, got) > 34
        b0 = jpeg_decode(encode_jpeg(w, h, px, channels=3,
                                     subsampling="422"))
        b1 = jpeg_decode(encode_jpeg(w, h, px, channels=3,
                                     subsampling="422", progressive=True))
        assert b0["pixels"] == b1["pixels"]
    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=33 * 17 * 3, dtype=np.uint8).tobytes()
    a = jpeg_decode(encode_jpeg(33, 17, px, channels=3, subsampling="422"))
    b = jpeg_decode(encode_jpeg(33, 17, px, channels=3, subsampling="422",
                                restart_interval=2))
    assert a["pixels"] == b["pixels"]


def test_progressive_bad_progression_rejected():
    """T.81 G.1.1.1.1: a component's AC scans require its DC scan first,
    a band's first pass happens exactly once, refinements must match the
    established precision. A stream whose DC scans were stripped (AC-only
    — libjpeg's JERR_BAD_PROGRESSION case) must return None, never
    garbage pixels (r11 code-review finding)."""
    import struct

    blob = encode_jpeg(16, 16, bytes(range(256)), channels=1,
                       progressive=True)
    assert jpeg_decode(blob) is not None
    out = bytearray(blob[:2])
    pos = 2
    while pos < len(blob) - 1:
        marker = blob[pos + 1]
        if marker == 0xD9:
            out += blob[pos:pos + 2]
            break
        seglen = struct.unpack(">H", blob[pos + 2:pos + 4])[0]
        seg_end = pos + 2 + seglen
        if marker == 0xDA:
            seg = blob[pos + 4:seg_end]
            p = seg_end
            while True:  # skip this scan's entropy data
                f = blob.find(b"\xff", p)
                nxt = blob[f + 1]
                if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                    p = f + 2
                    continue
                break
            if seg[-3] != 0:      # keep only AC scans
                out += blob[pos:f]
            pos = f
            continue
        out += blob[pos:seg_end]
        pos = seg_end
    assert jpeg_decode(bytes(out)) is None


def test_progressive_strictness():
    """Strict-or-None holds for multi-scan streams: every truncation is
    None, and no byte flip may raise."""
    blob = encode_jpeg(16, 16, bytes(range(256)), channels=1,
                       progressive=True)
    assert jpeg_decode(blob) is not None
    for cut in range(2, len(blob), 13):
        assert jpeg_decode(blob[:cut]) is None
    assert jpeg_decode(blob + b"x") is None
    rng = np.random.default_rng(3)
    for _ in range(120):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] ^= int(rng.integers(1, 256))
        jpeg_decode(bytes(b))  # None or a decode — must never raise


def test_pil_interop_if_available():
    """Our encoder emits spec-valid baseline JPEG — where PIL exists, it
    must decode our files and agree with our decoder within rounding
    (different IDCT/upsample implementations may differ by a few LSB).
    The build container has no PIL, so this skips there; it documents and
    pins the interop claim wherever a full environment runs the suite."""
    import pytest

    pil = pytest.importorskip("PIL.Image")
    import io

    w, h = 24, 16
    xs, ys = np.meshgrid(np.arange(w), np.arange(h))
    rgb = np.stack([xs * 10 % 256, ys * 10 % 256, (xs + ys) * 5 % 256],
                   axis=-1).astype(np.uint8)
    for sub in ("444", "420", "422"):
        for prog in (False, True):
            blob = encode_jpeg(w, h, rgb.tobytes(), channels=3,
                               qtable=np.full((8, 8), 2.0), subsampling=sub,
                               progressive=prog)
            theirs = np.asarray(pil.open(io.BytesIO(blob)).convert("RGB"))
            ours = np.frombuffer(jpeg_decode(blob)["pixels"],
                                 dtype=np.uint8).reshape(h, w, 3)
            assert _psnr(theirs, ours) > 35, (sub, prog,
                                              _psnr(theirs, ours))


def test_dims_header_matches_decode_and_feature_path():
    px = bytes(([9] * 8 + [200] * 8) * 8)
    blob = encode_jpeg(16, 8, px, channels=1, qtable=GATE_QTABLE)
    hd = jpeg_header(blob)
    img = jpeg_decode(blob)
    assert (hd["width"], hd["height"]) == (img["width"], img["height"])
    # the multimodal chains pick JPEG up
    assert image_dims(blob) == {"width": 16, "height": 8}
    assert decode_image(blob)["pixels"] == px


def test_codec_property_roundtrip():
    """Property test: for ANY small image, dims, sampling layout, coding
    mode, and restart interval, (a) decode succeeds, (b) progressive
    decodes pixel-IDENTICAL to baseline (same quantized coefficients),
    (c) restart markers never change pixels, (d) the flat-block subset
    round-trips exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 24), h=st.integers(1, 20),
        ch_sub=st.sampled_from([(1, "444"), (3, "444"), (3, "420"),
                                (3, "422")]),
        ri=st.sampled_from([0, 1, 3]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, ch_sub, ri, seed):
        ch, sub = ch_sub
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=w * h * ch, dtype=np.uint8).tobytes()
        base = jpeg_decode(encode_jpeg(w, h, px, channels=ch,
                                       subsampling=sub))
        assert base is not None and (base["width"], base["height"]) == (w, h)
        for prog in (False, True):
            out = jpeg_decode(encode_jpeg(w, h, px, channels=ch,
                                          subsampling=sub, progressive=prog,
                                          restart_interval=ri))
            assert out is not None, (w, h, ch, sub, prog, ri)
            assert out["pixels"] == base["pixels"], (w, h, ch, sub, prog, ri)
        # flat-block exactness on the same dims (grayscale, padded to 8)
        fw, fh = (w + 7) // 8 * 8, (h + 7) // 8 * 8
        tile = np.repeat(np.repeat(
            rng.integers(0, 256, size=(fh // 8, fw // 8)), 8, 0), 8, 1)
        fpx = tile.astype(np.uint8).tobytes()
        got = jpeg_decode(encode_jpeg(fw, fh, fpx, channels=1,
                                      progressive=bool(seed % 2)))
        assert got["pixels"] == fpx

    check()


def test_entropy_lazy_window_path():
    """Oversized entropy segments fall back to on-demand windows (the
    bounded-memory path — a 100 MB payload must not demand GBs of
    precomputed windows). Forcing the fallback everywhere must decode
    bit-identically on both coding paths."""
    import obadiah_spark.pipelines.jpeg as J

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=64 * 48, dtype=np.uint8).tobytes()
    blob = J.encode_jpeg(64, 48, px, channels=1, restart_interval=3)
    pblob = J.encode_jpeg(64, 48, px, channels=1, progressive=True)
    fast = (J.jpeg_decode(blob)["pixels"], J.jpeg_decode(pblob)["pixels"])
    old = J._Entropy._LIST_MAX_BYTES
    J._Entropy._LIST_MAX_BYTES = 0
    try:
        lazy = (J.jpeg_decode(blob)["pixels"],
                J.jpeg_decode(pblob)["pixels"])
        assert fast == lazy
        assert J.jpeg_decode(blob[:-7]) is None
    finally:
        J._Entropy._LIST_MAX_BYTES = old
