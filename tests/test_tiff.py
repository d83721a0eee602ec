"""Baseline TIFF codec: roundtrip properties over both compressions and
byte orders, PackBits pins, strict-parse rejections, and the multimodal
dispatch integration."""

from __future__ import annotations

import struct

import numpy as np


def test_roundtrip_property_random_images():
    from hypothesis import given, settings, strategies as st

    from obadiah_spark.pipelines.tiff import encode_tiff, tiff_decode

    @settings(max_examples=40, deadline=None)
    @given(st.integers(1, 9), st.integers(1, 7), st.booleans(),
           st.booleans(), st.randoms(use_true_random=False))
    def check(w, h, pb, be, rnd):
        raw = bytes(rnd.randrange(256) for _ in range(w * h * 3))
        d = tiff_decode(encode_tiff(w, h, raw, packbits=pb,
                                    big_endian=be))
        assert d is not None
        assert (d["width"], d["height"]) == (w, h)
        assert d["pixels"].tobytes() == raw

    check()


def test_packbits_pins():
    from obadiah_spark.pipelines.tiff import (packbits_decode,
                                              packbits_encode)

    # spec example shape: a run becomes (1-n, byte)
    assert packbits_encode(b"\xaa\xaa\xaa") == bytes([257 - 3, 0xAA])
    assert packbits_encode(b"\x01\x02") == b"\x01\x01\x02"
    # 128-noop is tolerated on decode
    assert packbits_decode(bytes([128, 0, 0x55]), 1) == b"\x55"
    # runs longer than 128 split
    row = b"\x07" * 300
    enc = packbits_encode(row)
    assert packbits_decode(enc, 300) == row and len(enc) == 6
    # strict: wrong expected length or trailing garbage rejects
    assert packbits_decode(enc, 299) is None
    assert packbits_decode(enc + b"\x00\x00", 300) is None


def test_strict_rejections():
    from obadiah_spark.pipelines.tiff import encode_tiff, tiff_decode

    good = bytearray(encode_tiff(2, 2, bytes(range(12))))
    assert tiff_decode(bytes(good)) is not None
    bad = bytearray(good)
    bad[2:4] = struct.pack("<H", 43)          # wrong magic
    assert tiff_decode(bytes(bad)) is None
    assert tiff_decode(bytes(good[:-20])) is None   # truncated IFD
    # photometric != RGB rejects (tag 262 value word)
    for off in range(8, len(good) - 12):
        if struct.unpack("<H", good[off:off + 2])[0] == 262:
            bad = bytearray(good)
            bad[off + 8:off + 10] = struct.pack("<H", 1)
            assert tiff_decode(bytes(bad)) is None
            break
    else:
        raise AssertionError("photometric tag not found")


def test_multimodal_dispatch_and_gate_cycle(spark, sf_dir, duck):
    from tools.verify_local import canonicalize

    from obadiah_spark.pipelines.multimodal import (CODEC_ROUNDTRIP_ORACLE,
                                                    codec_roundtrip,
                                                    decode_image)
    from obadiah_spark.pipelines.tiff import encode_tiff
    from obadiah_spark.session import read_table

    img = decode_image(encode_tiff(3, 2, bytes(range(18)), packbits=True))
    assert (img["width"], img["height"]) == (3, 2)

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = codec_roundtrip(docs).toPandas()
    want = duck.execute(CODEC_ROUNDTRIP_ORACLE).df()
    assert canonicalize(got).equals(canonicalize(want))
    assert set(got.fmt) == {"bmp", "ppm", "png", "gif", "webp", "tiff"}
