"""Progressive JPEG (SOF2) decode + encode (round 11).

Correctness strategy (PIL is absent in this container, so the
cross-check is import-gated like PNG's):

1. DIFFERENTIAL ANCHOR: progressive coding is a lossless reordering of
   the same quantized coefficients, so
   decode(jpeg_encode_progressive(px, q)) must equal
   decode(jpeg_encode(px, q)) PIXEL FOR PIXEL — and the baseline path
   was already verified against hand-assembled bitstreams.  This
   crosses two independent decode paths (multi-scan coefficient
   accumulation vs single-scan block decode).
2. HAND-ASSEMBLED STREAMS: minimal SOF2 bitstreams built byte-by-byte
   in the test decode to independently computed pixels — pins the
   decoder absolutely, without trusting the encoder.
3. BLOCK-LEVEL FUZZ of the AC refinement pass (the trickiest T.81
   G.1.2.3 logic): random coefficient vectors round-trip
   encode->decode at every (Ah, Al) step and must land exactly on the
   point-transform contract, including ZRL-in-refinement and EOBRUN
   correction-bit buffering.
4. Corrupt-stream guards: truncations and lying headers raise loud
   ValueError (codec-guard contract), arithmetic coding still refuses.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from imdb_top_250_etl_pipeline_spark.operators.bitstream import (
    BitReader,
    BitWriter,
)
from imdb_top_250_etl_pipeline_spark.operators.jpeg import (
    _ENC_ACP_COUNTS,
    _ENC_ACP_SYMBOLS,
    _ENC_DC_COUNTS,
    _ENC_DC_SYMBOLS,
    _entropy_byte,
    _entropy_bytes,
    _build_decode_table,
    _build_encode_table,
    _EobState,
    _encode_ac_refine_block,
    _pt_ac,
    _prog_ac_refine,
    default_progressive_scans,
    jpeg_decode,
    jpeg_dims,
    jpeg_encode,
    jpeg_encode_progressive,
)


def _gradient(shape, seed=0):
    if len(shape) == 2:
        return ((np.indices(shape).sum(0) * 3 + seed) % 256).astype(np.uint8)
    g = ((np.indices(shape[:2]).sum(0) * 3 + seed) % 256).astype(np.uint8)
    return np.stack([g, g // 2, 255 - g], axis=-1)


# --- 1. differential anchor --------------------------------------------------

DIFF_CASES = [
    ((8, 8), 100, False),
    ((17, 19), 75, False),
    ((64, 64), 95, False),
    ((40, 40, 3), 90, False),
    ((23, 31, 3), 70, True),
]

DIFF_CASES_SLOW = [
    ((16, 24), 90, False),
    ((33, 47), 50, False),
    ((57, 41, 3), 95, False),
    ((129, 65), 80, False),  # the knife-edge FDCT rounding regression
    ((8, 8, 3), 100, False),
    ((120, 88, 3), 60, True),
    ((128, 128), 80, False),
    ((75, 75, 3), 92, True),
]


@pytest.mark.parametrize("shape,q,sub", DIFF_CASES)
def test_progressive_equals_baseline(shape, q, sub):
    px = _gradient(shape)
    pp = jpeg_decode(jpeg_encode_progressive(px, quality=q, subsample=sub))
    bp = jpeg_decode(jpeg_encode(px, quality=q, subsample=sub))
    assert np.array_equal(pp, bp)


@pytest.mark.slow
@pytest.mark.parametrize("shape,q,sub", DIFF_CASES_SLOW)
def test_progressive_equals_baseline_slow(shape, q, sub):
    rng = np.random.default_rng(hash((shape, q)) % 2**32)
    px = rng.integers(0, 256, size=shape, dtype=np.uint8)
    pp = jpeg_decode(jpeg_encode_progressive(px, quality=q, subsample=sub))
    bp = jpeg_decode(jpeg_encode(px, quality=q, subsample=sub))
    assert np.array_equal(pp, bp)


def test_progressive_q100_solid_exact():
    px = np.full((48, 56), 77, np.uint8)
    assert np.array_equal(
        jpeg_decode(jpeg_encode_progressive(px, quality=100)), px
    )


def test_custom_scan_scripts_same_pixels():
    """Any legal scan script is a reordering of the same data: odd band
    splits and a deeper Al chain must decode identically."""
    px = _gradient((41, 29))
    ref = jpeg_decode(jpeg_encode_progressive(px, quality=85))
    for scans in (
        # plain spectral selection, no successive approximation
        [([0], 0, 0, 0, 0), ([0], 1, 63, 0, 0)],
        # odd band boundaries
        [
            ([0], 0, 0, 0, 0),
            ([0], 1, 2, 0, 0),
            ([0], 3, 17, 0, 0),
            ([0], 18, 62, 0, 0),
            ([0], 63, 63, 0, 0),
        ],
        # 3-level successive approximation
        [
            ([0], 0, 0, 0, 2),
            ([0], 1, 63, 0, 2),
            ([0], 0, 0, 2, 1),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ],
    ):
        got = jpeg_decode(
            jpeg_encode_progressive(px, quality=85, scans=scans)
        )
        assert np.array_equal(got, ref), scans


def test_progressive_dims_and_default_script():
    px = _gradient((30, 50))
    raw = jpeg_encode_progressive(px, quality=90)
    assert raw[:2] == b"\xff\xd8"
    assert b"\xff\xc2" in raw  # SOF2
    assert jpeg_dims(raw) == (50, 30)
    assert len(default_progressive_scans(True)) == 6
    assert len(default_progressive_scans(False)) == 10


# --- 2. hand-assembled streams ----------------------------------------------


def _hand_stream(scan_bits: list[bytes], w=8, h=8) -> bytes:
    """Minimal 8x8 gray SOF2 stream with all-1 quant and the encoder's
    fixed canonical tables; scan_bits supplies pre-packed entropy bytes
    for (DC Ss=0..0, AC Ss=1..63) scans in order."""
    zz_from = __import__(
        "imdb_top_250_etl_pipeline_spark.operators.jpeg", fromlist=["_ZZ"]
    )
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + b"\x01" * 64
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1)
    out += bytes([1, 0x11, 0])
    for tc_th, counts, syms in (
        (0x00, _ENC_DC_COUNTS, _ENC_DC_SYMBOLS),
        (0x10, _ENC_ACP_COUNTS, _ENC_ACP_SYMBOLS),
    ):
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + len(syms), tc_th
        ) + bytes(counts) + syms
    for (ss, se), data in zip(((0, 0), (1, 63)), scan_bits):
        out += b"\xff\xda" + struct.pack(">HB", 8, 1)
        out += bytes([1, 0x00, ss, se, 0x00])
        out += data
    out += b"\xff\xd9"
    return bytes(out)


def test_hand_assembled_flat_block():
    """DC diff 0 (DC symbol 0: 4-bit code 0000, pad 1111 -> 0x0F), AC
    all zero (EOB symbol 0x00: first 8-bit canonical code 00000000):
    an 8x8 flat 128 image."""
    raw = _hand_stream([b"\x0f", b"\x00"])
    out = jpeg_decode(raw)
    assert out.shape == (8, 8)
    assert (out == 128).all()


def test_hand_assembled_dc16_block():
    """DC diff 16: symbol 5 (code 0101) + bits 10000, packed
    0101 10000 + 1111111 pad = 0x58 0xFF(stuffed) -> dequant coef0=16,
    IDCT: flat 128 + 16/8 = 130."""
    bw = BitWriter()
    dc_tab = _build_encode_table(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ln, code = dc_tab[5]
    bw.u(code, ln)
    bw.u(16, 5)
    raw = _hand_stream([_entropy_bytes(bw), b"\x00"])
    out = jpeg_decode(raw)
    assert (out == 130).all()


def test_hand_assembled_eobrun_bits():
    """A 16x8 two-block image: AC scan emits EOB2 (symbol 0x10 + 1
    appended bit 0 covering both blocks) — the EOBRUN>1 path that a
    per-block EOB encoder never produces."""
    bw = BitWriter()
    dc_tab = _build_encode_table(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    for _ in range(2):  # two blocks, dc diff 0
        ln, code = dc_tab[0]
        bw.u(code, ln)
    dc_bytes = _entropy_bytes(bw)
    bw2 = BitWriter()
    ac_tab = _build_encode_table(_ENC_ACP_COUNTS, _ENC_ACP_SYMBOLS)
    ln, code = ac_tab[0x10]  # EOB2
    bw2.u(code, ln)
    bw2.u(0, 1)  # eobrun = 2 + 0
    raw = _hand_stream([dc_bytes, _entropy_bytes(bw2)], w=8, h=16)
    out = jpeg_decode(raw)
    assert out.shape == (16, 8) and (out == 128).all()


# --- 3. AC refinement block fuzz --------------------------------------------


def _roundtrip_refine(coefs: np.ndarray, ah: int, al: int) -> np.ndarray:
    """Encode one refinement scan step for a single block and decode it
    back onto the decoder's prior state; returns the decoder's state
    after the step (in natural coefficient units)."""
    band = coefs.astype(np.int64)
    ac_tab = _build_encode_table(_ENC_ACP_COUNTS, _ENC_ACP_SYMBOLS)
    bw = BitWriter()
    eob = _EobState(bw, ac_tab)
    _encode_ac_refine_block(bw, ac_tab, band, al, eob)
    eob.flush()
    data = _entropy_bytes(bw) + b"\xff\xd9"  # sentinel so overruns fail loud
    dec_tab = _build_decode_table(_ENC_ACP_COUNTS, _ENC_ACP_SYMBOLS)
    # decoder state after the PREVIOUS (Ah) pass
    state = np.zeros(64, dtype=np.int64)
    state[1 : 1 + len(band)] = _pt_ac(band, ah) << ah
    br = BitReader(data, 0, fetch=_entropy_byte)
    left = _prog_ac_refine(br, dec_tab, state, 1, len(band), al, 0)
    assert left == 0
    return state[1 : 1 + len(band)]


@pytest.mark.parametrize("seed", range(30))
def test_ac_refine_block_roundtrip_fuzz(seed):
    rng = np.random.default_rng(seed)
    n = 63
    coefs = np.zeros(n, dtype=np.int64)
    # sparse large + sparse small: exercises ZRL-in-refinement (runs of
    # >16 zero-history slots before a new ±1) and correction-bit
    # buffering behind EOBRUN
    k_large = rng.choice(n, size=rng.integers(0, 4), replace=False)
    coefs[k_large] = rng.integers(2, 60, size=len(k_large)) * rng.choice(
        [-1, 1], size=len(k_large)
    )
    k_small = rng.choice(n, size=rng.integers(0, 5), replace=False)
    coefs[k_small] = rng.choice([-1, 1], size=len(k_small))
    for ah, al in ((1, 0), (2, 1), (3, 2)):
        got = _roundtrip_refine(coefs, ah, al)
        want = _pt_ac(coefs, al) << al
        assert np.array_equal(got, want), (ah, al, coefs.tolist())


def test_ac_refine_zrl_specific():
    """>16 zero-history slots before a newly nonzero coefficient forces
    the ZRL-in-refinement branch explicitly."""
    coefs = np.zeros(63, dtype=np.int64)
    coefs[40] = 2  # history-nonzero past the run
    coefs[62] = -1  # newly nonzero at Al=0, 21 zero slots after k=40
    got = _roundtrip_refine(coefs, 1, 0)
    assert np.array_equal(got, _pt_ac(coefs, 0))


# --- 4. guards ---------------------------------------------------------------


def test_progressive_truncation_raises_valueerror():
    raw = jpeg_encode_progressive(_gradient((24, 24)), quality=90)
    for cut in range(len(raw) // 2, len(raw) - 2, 37):
        with pytest.raises(ValueError):
            jpeg_decode(raw[:cut])


def test_progressive_lying_sof_rejected_fast():
    import time

    raw = bytearray(jpeg_encode_progressive(_gradient((8, 8)), quality=90))
    sof = raw.index(b"\xff\xc2")
    raw[sof + 5 : sof + 9] = struct.pack(">HH", 60000, 60000)
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        jpeg_decode(bytes(raw))
    assert time.perf_counter() - t0 < 1.0


def test_arithmetic_coding_still_refuses():
    raw = bytearray(jpeg_encode_progressive(_gradient((8, 8)), quality=90))
    sof = raw.index(b"\xff\xc2")
    raw[sof + 1] = 0xCA  # SOF10: arithmetic progressive
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg_decode(bytes(raw))


def test_mixed_sof_rejected():
    praw = jpeg_encode_progressive(_gradient((8, 8)), quality=90)
    sof2 = praw.index(b"\xff\xc2")
    # splice a baseline SOF0 in front of the SOF2
    spliced = praw[:sof2] + b"\xff\xc0" + praw[sof2 + 2 :]
    with pytest.raises((ValueError, NotImplementedError)):
        jpeg_decode(spliced)


# --- 5. import-gated PIL cross-check (absent in this container) -------------


def test_pil_cross_check_progressive():
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    px = _gradient((40, 56))
    buf = io.BytesIO()
    Image.fromarray(px, mode="L").save(
        buf, format="JPEG", quality=90, progressive=True
    )
    raw = buf.getvalue()
    ours = jpeg_decode(raw)
    theirs = np.asarray(Image.open(io.BytesIO(raw)).convert("L"))
    # PIL's IDCT is integer-approximate; exactness bound like the PNG gate
    assert ours.shape == theirs.shape
    assert np.abs(ours.astype(int) - theirs.astype(int)).max() <= 1
