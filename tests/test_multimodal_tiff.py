"""REAL TIFF codec (round 11): strip decode with none/PackBits/LZW
compression, EarlyChange, predictor, both byte orders.

Legs: (1) hand-derived LZW code-sequence vector + hand-packed stream
(pins the TIFF-flavor LZW semantics absolutely — MSB-first packing and
the EarlyChange width bump are exactly where a matched encoder/decoder
pair could hide a shared bug, so the code SEQUENCE is derived by hand
in the test); (2) round-trip matrix over compressions × strip layouts
× predictors × byte orders; (3) corrupt-stream/lying-header guards;
(4) cross-format consistency: the same pixels as TIFF and BMP must
produce identical luma and aHash; (5) Spark-side seam integration.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from imdb_top_250_etl_pipeline_spark.operators.bitstream import (
    lzw_decode,
    lzw_encode,
)
from imdb_top_250_etl_pipeline_spark.operators.tiff import (
    _packbits_decode,
    _packbits_encode,
    tiff_dims,
    tiff_encode,
    tiff_gray_pixels,
)


def _lzw_decode_tiff(data: bytes, n: int) -> bytes:
    """The shared LZW with TIFF's constants: 256 roots, MSB-first,
    EarlyChange."""
    return lzw_decode(data, n, 256, msb_first=True, early_change=1,
                      what="TIFF LZW strip")


def _lzw_encode_tiff(data: bytes) -> bytes:
    return lzw_encode(data, 256, msb_first=True, early_change=1)


def _grad(h, w, seed=0):
    return ((np.indices((h, w)).sum(0) * 3 + seed) % 256).astype(np.uint8)


# --- leg 1: hand-derived LZW vectors ----------------------------------------


def _unpack(data: bytes, widths: list[int]) -> list[int]:
    acc = nb = pos = 0
    out = []
    for w in widths:
        while nb < w:
            acc = (acc << 8) | data[pos]
            nb += 8
            pos += 1
        out.append((acc >> (nb - w)) & ((1 << w) - 1))
        nb -= w
    return out


def _pack(codes: list[int], widths: list[int]) -> bytes:
    acc = nb = 0
    out = bytearray()
    for c, w in zip(codes, widths):
        acc = (acc << w) | c
        nb += w
        while nb >= 8:
            out.append((acc >> (nb - 8)) & 0xFF)
            nb -= 8
    if nb:
        out.append((acc << (8 - nb)) & 0xFF)
    return bytes(out)


def test_lzw_hand_derived_code_sequence():
    """9 zero bytes hand-trace: CLEAR, 0 (emit [0], add [0,0]=258),
    258 (add [0,0,0]=259), 259, 259 (final run), EOI — all 9-bit."""
    enc = _lzw_encode_tiff(bytes(9))
    assert _unpack(enc, [9] * 6) == [256, 0, 258, 259, 259, 257]
    # and the decoder accepts the hand-packed equivalent
    raw = _pack([256, 0, 258, 259, 259, 257], [9] * 6)
    assert _lzw_decode_tiff(raw, 9) == bytes(9)


def test_lzw_hand_derived_two_symbols():
    """b'ababab' hand trace: w=a; 'ab' missing -> emit 97, add ab=258;
    'ba' missing -> emit 98, add ba=259; 'ab' in table, 'aba' missing
    -> emit 258, add aba=260; final run w='ab' -> emit 258; EOI.
    Decoder side: 97->a, 98->b (add ab), 258->ab (add ba), 258->ab
    (add ab+a) — 'ababab'."""
    enc = _lzw_encode_tiff(b"ababab")
    assert _unpack(enc, [9] * 6) == [256, 97, 98, 258, 258, 257]
    raw = _pack([256, 97, 98, 258, 258, 257], [9] * 6)
    assert _lzw_decode_tiff(raw, 6) == b"ababab"


def test_lzw_kwkwk_from_hand_stream():
    """Code == next-free-entry (KwKwK): CLEAR, 97, 258 decodes 'a' +
    'aa' = 'aaa'."""
    raw = _pack([256, 97, 258, 257], [9] * 4)
    assert _lzw_decode_tiff(raw, 3) == b"aaa"


def test_lzw_early_change_boundary_roundtrip():
    """Push the table exactly across the 9->10 bit EarlyChange point:
    distinct byte pairs grow the table by ~1 per input byte, so inputs
    sized around 254 data codes cross the boundary; any width-timing
    mismatch between encoder and decoder derails the stream."""
    rng = np.random.default_rng(11)
    for n in (250, 252, 253, 254, 255, 256, 258, 400, 1200, 6000, 40000):
        data = bytes(rng.integers(0, 256, n).astype(np.uint8))
        assert _lzw_decode_tiff(_lzw_encode_tiff(data), n) == data


def test_packbits_hand_vectors():
    # spec example shapes: literals, runs, noop
    assert _packbits_decode(b"\x02abc", 3) == b"abc"
    assert _packbits_decode(b"\xfeZ", 3) == b"ZZZ"  # 257-254=3 repeats
    assert _packbits_decode(b"\x80\x00A", 1) == b"A"  # -128 noop
    data = b"aaaaabbbcdddddd"
    assert _packbits_decode(_packbits_encode(data), len(data)) == data


# --- leg 2: round-trip matrix ------------------------------------------------


@pytest.mark.parametrize("comp", ["none", "packbits", "lzw"])
@pytest.mark.parametrize("rps", [None, 5])
@pytest.mark.parametrize("be", [False, True])
def test_roundtrip_matrix(comp, rps, be):
    rng = np.random.default_rng(hash((comp, rps, be)) % 2**32)
    for px in (
        _grad(17, 31),
        np.full((48, 16), 200, np.uint8),
        rng.integers(0, 256, (33, 129), dtype=np.uint8),
        np.zeros((1, 1), np.uint8),
    ):
        raw = tiff_encode(
            px, compression=comp, rows_per_strip=rps, big_endian=be
        )
        assert tiff_dims(raw) == (px.shape[1], px.shape[0])
        assert np.array_equal(tiff_gray_pixels(raw), px)


def test_predictor_roundtrip_and_smaller_on_gradients():
    px = _grad(40, 60)
    plain = tiff_encode(px, compression="lzw")
    pred = tiff_encode(px, compression="lzw", predictor=True)
    assert np.array_equal(tiff_gray_pixels(pred), px)
    # horizontal differencing turns a gradient into near-constant rows
    assert len(pred) < len(plain)


def test_whiteiszero_photometric():
    px = _grad(9, 9)
    raw = bytearray(tiff_encode(px, compression="none"))
    # photometric tag (262) SHORT value: flip 1 -> 0 in the IFD
    # entries are sorted ascending; find tag 262 little-endian
    idx = raw.find(struct.pack("<HHI", 262, 3, 1))
    assert idx > 0
    assert raw[idx + 8] == 1
    raw[idx + 8] = 0
    out = tiff_gray_pixels(bytes(raw))
    assert np.array_equal(out, 255 - px)


# --- leg 3: guards -----------------------------------------------------------


def test_lying_dims_rejected_fast():
    import time

    raw = bytearray(tiff_encode(np.full((8, 8), 5, np.uint8)))
    idx = raw.find(struct.pack("<HHI", 256, 3, 1))  # ImageWidth
    raw[idx + 8 : idx + 10] = struct.pack("<H", 60000)
    idx = raw.find(struct.pack("<HHI", 257, 3, 1))  # ImageLength
    raw[idx + 8 : idx + 10] = struct.pack("<H", 60000)
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        tiff_gray_pixels(bytes(raw))
    assert time.perf_counter() - t0 < 1.0


def test_truncations_raise_valueerror_or_lossless():
    """Every prefix either fails LOUD with ValueError or decodes to the
    exact original pixels (cuts inside the trailing next-IFD pointer
    lose nothing the first-page decode needs) — never garbage, never
    IndexError/struct.error."""
    px = _grad(16, 16)
    for comp in ("none", "packbits", "lzw"):
        good = tiff_encode(px, compression=comp)
        for cut in range(4, len(good) - 1, 11):
            try:
                out = tiff_gray_pixels(good[:cut])
            except ValueError:
                continue
            assert np.array_equal(out, px), (comp, cut)


def test_unsupported_shapes_refuse_at_seam():
    raw = bytearray(tiff_encode(np.full((8, 8), 5, np.uint8)))
    # compression -> 7 (JPEG-in-TIFF): NotImplementedError
    idx = raw.find(struct.pack("<HHI", 259, 3, 1))
    raw[idx + 8] = 7
    with pytest.raises(NotImplementedError, match="compression"):
        tiff_gray_pixels(bytes(raw))
    with pytest.raises(ValueError):
        tiff_gray_pixels(b"II+\x00garbage")


def test_strip_table_mismatch_raises():
    raw = bytearray(tiff_encode(_grad(20, 10), rows_per_strip=5))
    idx = raw.find(struct.pack("<HHI", 278, 3, 1))  # RowsPerStrip
    raw[idx + 8] = 20  # now 1 strip expected but 4 offsets present
    with pytest.raises(ValueError, match="strip table"):
        tiff_gray_pixels(bytes(raw))


# --- leg 3b: TILED layout (round 13b) ----------------------------------------


def test_tiled_roundtrip_matrix():
    """Tiled TIFF across compressions/predictor/byte orders/edge
    geometries: lossless round-trip through real tile grids."""
    rng = np.random.default_rng(4)
    for (h, w), tile in [((40, 56), (16, 16)), ((64, 64), (32, 16)),
                         ((50, 70), (32, 32)), ((16, 16), (16, 16))]:
        px = rng.integers(0, 256, (h, w)).astype(np.uint8)
        for comp in ("none", "packbits", "lzw"):
            preds = [False, True] if comp == "lzw" else [False]
            for pred in preds:
                for be in (False, True):
                    raw = tiff_encode(
                        px, compression=comp, predictor=pred,
                        big_endian=be, tile=tile,
                    )
                    assert np.array_equal(tiff_gray_pixels(raw), px), (
                        h, w, tile, comp, pred, be)


def test_tiled_equals_strip_pixels():
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (48, 80)).astype(np.uint8)
    a = tiff_gray_pixels(tiff_encode(px, tile=(16, 32)))
    b = tiff_gray_pixels(tiff_encode(px, rows_per_strip=7))
    assert np.array_equal(a, b)


def test_tiled_edge_padding_is_cropped():
    # 50x70 with 32x32 tiles: right/bottom tiles are zero-padded in
    # the FILE but must never leak into the decoded pixels
    px = np.full((50, 70), 200, np.uint8)
    raw = tiff_encode(px, tile=(32, 32))
    got = tiff_gray_pixels(raw)
    assert got.shape == (50, 70)
    assert np.all(got == 200)


def test_tiled_guards():
    px = np.full((32, 32), 7, np.uint8)
    # encoder: non-multiple-of-16 tile dims refuse
    with pytest.raises(ValueError, match="multiples of 16"):
        tiff_encode(px, tile=(20, 16))
    with pytest.raises(ValueError, match="mutually exclusive"):
        tiff_encode(px, tile=(16, 16), rows_per_strip=8)
    raw = bytearray(tiff_encode(px, tile=(16, 16)))
    # decoder: patch TileWidth to a non-multiple -> loud failure
    idx = raw.find(struct.pack("<HHI", 322, 3, 1))
    bad = bytearray(raw)
    struct.pack_into("<H", bad, idx + 8, 20)
    with pytest.raises(ValueError, match="tile geometry"):
        tiff_gray_pixels(bytes(bad))
    # decoder: lying tile-table length (patch ImageWidth up so the
    # grid needs more tiles than the table carries)
    widx = raw.find(struct.pack("<HHI", 256, 3, 1))
    bad = bytearray(raw)
    struct.pack_into("<H", bad, widx + 8, 64)
    with pytest.raises(ValueError, match="tile table"):
        tiff_gray_pixels(bytes(bad))


# --- leg 4: cross-format consistency ----------------------------------------


def test_cross_format_luma_and_ahash_match_bmp():
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        _ahash_bands,
        _spatial_cells,
    )

    px = _grad(24, 32, seed=7)
    import struct as _s

    def bmp_gray(p):
        h, w = p.shape
        pad = (w * 3 + 3) & ~3
        body = np.zeros((h, pad), dtype=np.uint8)
        rep = np.repeat(p[::-1][:, :, None], 3, axis=2).reshape(h, w * 3)
        body[:, : w * 3] = rep
        hdr = _s.pack("<2sIHHI", b"BM", 54 + body.size, 0, 0, 54)
        dib = _s.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, body.size, 2835, 2835, 0, 0
        )
        return hdr + dib + body.tobytes()

    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        bmp_gray_pixels,
    )

    t = tiff_gray_pixels(tiff_encode(px, compression="lzw", predictor=True))
    b = bmp_gray_pixels(bmp_gray(px))
    assert np.array_equal(t, b)
    bt = _ahash_bands(_spatial_cells(t.astype(np.int64)), t.ravel())
    bb = _ahash_bands(_spatial_cells(b.astype(np.int64)), b.ravel())
    assert bt == bb


# --- leg 5: Spark-side seam --------------------------------------------------


def test_spark_tiff_stats_and_decode(spark):
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        decode_blobs,
        decode_gray_stats,
        synthesize_tiff_blobs,
    )

    docs = spark.range(0, 40).selectExpr("id AS doc_id")
    blobs = synthesize_tiff_blobs(docs, "doc_id")
    stats = {
        r["doc_id"]: r for r in decode_gray_stats(blobs).collect()
    }
    assert len(stats) == 40
    for i, r in stats.items():
        assert r["width"] == i % 64 + 16
        assert r["height"] == i % 48 + 16
        assert r["y_min"] == r["y_max"] == i % 256
        assert r["y_sum"] == (i % 256) * (i % 64 + 16) * (i % 48 + 16)
    meta = decode_blobs(blobs).collect()
    assert all(m["media_type"] == "image" for m in meta)
