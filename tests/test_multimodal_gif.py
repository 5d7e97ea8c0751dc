"""GIF codec, round 10: the palette/LZW member of the image seam.

operators/gif.py decodes GIF87a/GIF89a first frames — variable-width
LZW (dictionary growth to 4096 and reset, LSB-first bit packing, the
KwKwK self-reference case), global/local color tables, interlace,
extension-block skipping — and encodes single-frame gray-ramp GIFs
with REAL LZW compression as the fixture writer.

Because palette lookup is lossless, every round-trip is EXACT (unlike
JPEG's quantization tolerance), so these tests assert byte-identical
pixels across the whole feature matrix, plus a HAND-ASSEMBLED stream
whose LZW codes are written bit-by-bit in this file (independent of the
encoder), plus cross-format aHash equality with BMP.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from imdb_top_250_etl_pipeline_spark.operators.bitstream import (
    lzw_decode,
    lzw_encode,
)
from imdb_top_250_etl_pipeline_spark.operators.gif import (
    gif_dims,
    gif_encode,
    gif_gray_pixels,
)


def _lzw_decode(mcs: int, data: bytes, n: int) -> list[int]:
    """The shared LZW with GIF's constants: 2^mcs roots, LSB-first,
    no EarlyChange."""
    return list(
        lzw_decode(data, n, 1 << mcs, msb_first=False, early_change=0,
                   what="GIF LZW stream")
    )


def _lzw_encode(mcs: int, seq: list[int]) -> bytes:
    return lzw_encode(bytes(seq), 1 << mcs, msb_first=False, early_change=0)


def _grad(h: int, w: int, seed: int = 0) -> np.ndarray:
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    return ((x + 3 * y + seed) % 251).astype(np.uint8)


# --- raw LZW ----------------------------------------------------------------


def test_lzw_roundtrip_matrix():
    rng = np.random.RandomState(0)
    for seq in (
        [1, 2, 3, 1, 2, 3, 1, 2, 3],
        [5] * 50,                      # KwKwK chains
        list(range(256)) * 40,         # fast dictionary growth
        list(rng.randint(0, 256, 120000)),  # forces a 4096 reset
        [],
    ):
        seq = [int(x) for x in seq]
        assert _lzw_decode(8, _lzw_encode(8, seq), len(seq)) == seq


def test_lzw_hand_assembled_bits():
    """LZW codes written by hand, LSB-first: mcs=2 (clear=4, end=5,
    width starts at 3).  Stream CLEAR(4), 1, 2, 6, END(5) where code 6
    is the entry built from '1'+'2' first char -> decodes 1,2,1,2.
    Bits LSB-first: 100 110(=1? no) — values: 4,1,2,6,5 at width 3:
    packed little-endian per byte."""
    codes = [4, 1, 2, 6, 5]
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += 3
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    assert _lzw_decode(2, bytes(out), 4) == [1, 2, 1, 2]


def test_lzw_truncation_raises():
    enc = _lzw_encode(8, [7, 8, 9, 7, 8, 9])
    with pytest.raises(ValueError):
        _lzw_decode(8, enc[:1], 6)
    with pytest.raises(ValueError):
        _lzw_decode(8, enc, 100)  # stream ends before 100 pixels


# --- container round-trips ---------------------------------------------------


def test_plain_and_interlaced_exact():
    g = _grad(30, 40)
    for interlace in (False, True):
        raw = gif_encode(g, interlace=interlace)
        assert raw[:6] == b"GIF89a" and raw[-1:] == b"\x3b"
        assert gif_dims(raw) == (40, 30)
        np.testing.assert_array_equal(gif_gray_pixels(raw), g)


def test_gif87a_and_noise_exact():
    big = np.random.RandomState(1).randint(0, 256, (80, 100)).astype(np.uint8)
    raw = gif_encode(big, version=b"87a")
    assert raw[:6] == b"GIF87a"
    np.testing.assert_array_equal(gif_gray_pixels(raw), big)


def test_extension_blocks_skipped():
    g = _grad(10, 12, 4)
    raw = gif_encode(g)
    # splice a graphic-control and a comment extension before the image
    # descriptor, which sits right after the 13-byte header + 768-byte
    # global color table (a byte search would hit 0x2C palette entries)
    img = 13 + 768
    assert raw[img] == 0x2C
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    comment = b"\x21\xfe\x05hello\x00"
    spliced = raw[:img] + gce + comment + raw[img:]
    np.testing.assert_array_equal(gif_gray_pixels(spliced), g)


def test_corrupt_streams_fail_loudly():
    with pytest.raises(ValueError):
        gif_dims(b"GIF10a....")
    g = gif_encode(_grad(8, 8))
    with pytest.raises(ValueError):
        gif_gray_pixels(g[: len(g) // 2])  # truncated LZW / missing blocks


# --- cross-format + spark-side -----------------------------------------------


def test_cross_format_ahash_matches_bmp(spark):
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import ahash_blobs
    from tests.test_multimodal_wav_bmp import make_bmp

    px = _grad(16, 16, 5)
    gf = gif_encode(px)
    bm = make_bmp(np.repeat(px[:, :, None], 3, axis=2))
    blobs = spark.createDataFrame(
        [(1, bytearray(gf)), (2, bytearray(bm))], "doc_id long, blob binary"
    )
    sigs = {r.doc_id: (r.b0, r.b1, r.b2, r.b3) for r in ahash_blobs(blobs).collect()}
    assert sigs[1] == sigs[2]


def test_decode_gray_stats_and_synthesize(spark):
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        decode_gray_stats,
        synthesize_gif_blobs,
    )

    ids = spark.range(0, 48, 8).select(F.col("id").alias("doc_id"))
    rows = decode_gray_stats(synthesize_gif_blobs(ids, "doc_id")).collect()
    assert len(rows) == 6
    for r in rows:
        i = r.doc_id
        w, h, v = i % 64 + 16, i % 48 + 16, i % 256
        assert (r.width, r.height) == (w, h)
        assert r.y_min == r.y_max == v
        assert r.y_sum == v * w * h


# --- hypothesis properties ----------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st

_PROP = settings(
    deadline=None, derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)


@_PROP
@given(seq=st.lists(st.integers(0, 255), max_size=400))
def test_property_lzw_roundtrip(seq):
    """Any index sequence round-trips through real LZW exactly."""
    assert _lzw_decode(8, _lzw_encode(8, seq), len(seq)) == seq


@_PROP
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    seed=st.integers(0, 10**6),
    interlace=st.booleans(),
)
def test_property_gif_roundtrip(h, w, seed, interlace):
    """Any gray image round-trips through the GIF container exactly,
    interlaced or not (palette lookup is lossless)."""
    px = ((np.arange(h * w) * 2654435761 + seed) % 256).astype(
        np.uint8
    ).reshape(h, w)
    assert np.array_equal(gif_gray_pixels(gif_encode(px, interlace=interlace)), px)
