"""H.264/AVC intra-only (IDR / I-slice) baseline decoder + fixture encoder.

Ninth real format at the multimodal codec seam, and the compressed-video
path a crawl corpus actually has: H.264 in MP4 (operators/mp4.py walks
the ISO-BMFF container; this module decodes the samples).  Training
pipelines sample KEYFRAMES — the stss sync-sample table is the seek
path (the AVI idx1 analog) and every sampled frame is an intra-coded
picture this module can decode without reference-frame state.

Scope (the baseline-profile intra subset, ITU-T H.264 spec):
  * NAL unit parse (MP4 length-prefixed), emulation-prevention removal.
  * SPS/PPS (exp-Golomb), frame cropping, 4:2:0 only.
  * IDR and non-IDR I slices, single slice per picture, CAVLC entropy
    coding (baseline has no CABAC).
  * Macroblocks: I_PCM (raw samples — byte-exact by definition),
    Intra_16x16 (modes 0-3 + luma-DC Hadamard + CAVLC residuals),
    Intra_4x4 (all 9 prediction modes + CAVLC residuals), chroma
    prediction modes 0-3, flat (baseline) dequant scaling.
  * In-loop deblocking filter (spec 8.7): IMPLEMENTED as the picture
    post-pass (intra prediction reads unfiltered samples) — bS 3/4
    intra edges, alpha/beta/tC0 tables, strong and normal filters,
    luma + chroma, per-MB QP averaging, slice alpha/beta offsets.
    Fixtures default to disable_deblocking_filter_idc=1 (byte-exact
    oracles need unfiltered pixels; solid pictures are invariant
    either way), and the filter-on path is pinned by hand-derived
    edge vectors in tests/test_multimodal_h264.py.
  * Everything else (CABAC, P/B slices, MBAFF/fields, FMO/ASO,
    8x8 transform, scaling matrices) refuses loudly at marked seams.

Why exact oracles exist: I_PCM macroblocks carry raw pixels (byte-exact
for ANY frame), and flat frames encode as Intra_16x16 DC prediction
with a single luma-DC-Hadamard coefficient whose reconstruction is
integer-exact arithmetic — the q100-JPEG / Y4M / WAV id-arithmetic
oracle discipline applied to real entropy-coded H.264.

Bits are read and written through operators/bitstream.py (fixed-width
fields, exp-Golomb, unary prefixes); this module keeps the RBSP framing
(emulation prevention, the stop bit) and the CAVLC tables, whose VLC
strings the encoder writes through the shared writer's ``u``.

CAVLC tables are transcribed from the public spec (Tables 9-5..9-10)
and structurally validated at import (prefix-free, complete where the
spec's table is complete); invalid codewords in a stream raise
ValueError (codec-guard contract), never decode silently.

100 TB note: decode runs inside Arrow-batched mapInPandas at the codec
seam (operators/multimodal.py), per-sample work independent — scales
with partition parallelism like every other blob decode.

Reference parity note: the reference pipeline (webscraper-postgres.py)
has no video path at all; this module exists for the LLM-data-pipeline
multimodal mandate, not reference parity.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitstream import BitReader, BitWriter

# ---------------------------------------------------------------------------
# bitstream: operators/bitstream.py reads and writes; the RBSP framing
# (emulation prevention, the stop bit) stays here
# ---------------------------------------------------------------------------


def _more_rbsp_data(r: BitReader) -> bool:
    """True while bits past the read position hold more than the rbsp
    stop bit (the LAST 1 in the RBSP, followed only by zeros)."""
    data = r.data
    end = len(data.rstrip(b"\0"))
    if not end:
        return False
    last = data[end - 1]
    last_one = end * 8 - (last & -last).bit_length()
    return last_one > r.bit_pos()


def _rbsp_trailing(w: BitWriter) -> None:
    w.u(1, 1)
    w.align()


def ebsp_to_rbsp(data: bytes) -> bytes:
    """Strip emulation-prevention bytes (00 00 03 -> 00 00)."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if zeros >= 2 and b == 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def rbsp_to_ebsp(data: bytes) -> bytes:
    """Insert emulation-prevention bytes."""
    out = bytearray()
    zeros = 0
    for b in data:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


# ---------------------------------------------------------------------------
# parameter sets
# ---------------------------------------------------------------------------


def parse_sps(nalu: bytes) -> dict:
    """Parse a seq_parameter_set NAL unit (header byte included)."""
    if not nalu or (nalu[0] & 0x1F) != 7:
        raise ValueError("H264: not an SPS NAL unit")
    r = BitReader(ebsp_to_rbsp(nalu[1:]), codec="H264")
    profile = r.u(8)
    r.u(8)  # constraint flags + reserved
    level = r.u(8)
    sps_id = r.ue()
    chroma_format_idc = 1
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134):
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)  # separate_colour_plane_flag
        bit_depth_luma = r.ue() + 8
        bit_depth_chroma = r.ue() + 8
        if bit_depth_luma != 8 or bit_depth_chroma != 8:
            raise NotImplementedError(
                "H264: >8-bit depth: plug ffmpeg in here"
            )
        r.u(1)  # qpprime_y_zero_transform_bypass
        if r.u(1):
            raise NotImplementedError(
                "H264: seq scaling matrices: plug ffmpeg in here"
            )
    if chroma_format_idc != 1:
        raise NotImplementedError(
            f"H264: chroma_format_idc {chroma_format_idc} (only 4:2:0): "
            "plug ffmpeg in here"
        )
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    log2_max_poc_lsb = 0
    delta_poc_always_zero = 1
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4
    elif poc_type == 1:
        delta_poc_always_zero = r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed
    pic_w_mbs = r.ue() + 1
    pic_h_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        raise NotImplementedError(
            "H264: interlaced (fields/MBAFF): plug ffmpeg in here"
        )
    r.u(1)  # direct_8x8_inference
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    # 4:2:0 frame coding: crop units are 2 luma samples both axes
    width = pic_w_mbs * 16 - 2 * (crop_l + crop_r)
    height = pic_h_units * 16 - 2 * (crop_t + crop_b)
    if width <= 0 or height <= 0:
        raise ValueError("H264: cropping removes the whole picture")
    from .multimodal import MAX_PIXELS

    if pic_w_mbs * 16 * pic_h_units * 16 > MAX_PIXELS:
        raise ValueError(
            f"H264 {width}x{height} exceeds MAX_PIXELS ({MAX_PIXELS}): "
            "lying header or decompression bomb"
        )
    return {
        "profile": profile,
        "level": level,
        "sps_id": sps_id,
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
        "delta_poc_always_zero": delta_poc_always_zero,
        "mb_w": pic_w_mbs,
        "mb_h": pic_h_units,
        "width": width,
        "height": height,
        "crop": (crop_l, crop_r, crop_t, crop_b),
    }


def parse_pps(nalu: bytes) -> dict:
    if not nalu or (nalu[0] & 0x1F) != 8:
        raise ValueError("H264: not a PPS NAL unit")
    r = BitReader(ebsp_to_rbsp(nalu[1:]), codec="H264")
    pps_id = r.ue()
    sps_id = r.ue()
    entropy = r.u(1)
    if entropy:
        raise NotImplementedError(
            "H264: CABAC entropy coding: plug ffmpeg in here"
        )
    pic_order_present = r.u(1)
    if r.ue() != 0:  # num_slice_groups_minus1
        raise NotImplementedError("H264: FMO slice groups: plug ffmpeg in here")
    num_ref_l0 = r.ue() + 1  # num_ref_idx_l0_default_active_minus1
    r.ue()  # num_ref_idx_l1_default_active_minus1
    weighted_pred = r.u(1)
    r.u(2)  # weighted_bipred_idc
    pic_init_qp = r.se() + 26
    r.se()  # pic_init_qs_minus26
    chroma_qp_offset = r.se()
    deblocking_control = r.u(1)
    constrained_intra = r.u(1)
    redundant_present = r.u(1)
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "num_ref_l0": num_ref_l0,
        "weighted_pred": weighted_pred,
        "pic_order_present": pic_order_present,
        "pic_init_qp": pic_init_qp,
        "chroma_qp_offset": chroma_qp_offset,
        "deblocking_control": deblocking_control,
        "constrained_intra": constrained_intra,
        "redundant_present": redundant_present,
    }


# ---------------------------------------------------------------------------
# CAVLC tables (spec Tables 9-5 .. 9-10), validated at import
# ---------------------------------------------------------------------------

# coeff_token: bitstring -> (TrailingOnes, TotalCoeff), one dict per nC class
_CT_NC0 = {
    "1": (0, 0),
    "000101": (0, 1), "01": (1, 1),
    "00000111": (0, 2), "000100": (1, 2), "001": (2, 2),
    "000000111": (0, 3), "00000110": (1, 3), "0000101": (2, 3),
    "00011": (3, 3),
    "0000000111": (0, 4), "000000110": (1, 4), "00000101": (2, 4),
    "000011": (3, 4),
    "00000000111": (0, 5), "0000000110": (1, 5), "000000101": (2, 5),
    "0000100": (3, 5),
    "0000000001111": (0, 6), "00000000110": (1, 6), "0000000101": (2, 6),
    "00000100": (3, 6),
    "0000000001011": (0, 7), "0000000001110": (1, 7),
    "00000000101": (2, 7), "000000100": (3, 7),
    "0000000001000": (0, 8), "0000000001010": (1, 8),
    "0000000001101": (2, 8), "0000000100": (3, 8),
    "00000000001111": (0, 9), "00000000001110": (1, 9),
    "0000000001001": (2, 9), "00000000100": (3, 9),
    "00000000001011": (0, 10), "00000000001010": (1, 10),
    "00000000001101": (2, 10), "0000000001100": (3, 10),
    "000000000001111": (0, 11), "000000000001110": (1, 11),
    "00000000001001": (2, 11), "00000000001100": (3, 11),
    "000000000001011": (0, 12), "000000000001010": (1, 12),
    "000000000001101": (2, 12), "00000000001000": (3, 12),
    "0000000000001111": (0, 13), "000000000000001": (1, 13),
    "000000000001001": (2, 13), "000000000001100": (3, 13),
    "0000000000001011": (0, 14), "0000000000001110": (1, 14),
    "0000000000001101": (2, 14), "000000000001000": (3, 14),
    "0000000000000111": (0, 15), "0000000000001010": (1, 15),
    "0000000000001001": (2, 15), "0000000000001100": (3, 15),
    "0000000000000100": (0, 16), "0000000000000110": (1, 16),
    "0000000000000101": (2, 16), "0000000000001000": (3, 16),
}

_CT_NC2 = {
    "11": (0, 0),
    "001011": (0, 1), "10": (1, 1),
    "000111": (0, 2), "00111": (1, 2), "011": (2, 2),
    "0000111": (0, 3), "001010": (1, 3), "001001": (2, 3), "0101": (3, 3),
    "00000111": (0, 4), "000110": (1, 4), "000101": (2, 4), "0100": (3, 4),
    "00000100": (0, 5), "0000110": (1, 5), "0000101": (2, 5),
    "00110": (3, 5),
    "000000111": (0, 6), "00000110": (1, 6), "00000101": (2, 6),
    "001000": (3, 6),
    "00000001111": (0, 7), "000000110": (1, 7), "000000101": (2, 7),
    "000100": (3, 7),
    "00000001011": (0, 8), "00000001110": (1, 8), "00000001101": (2, 8),
    "0000100": (3, 8),
    "000000001111": (0, 9), "00000001010": (1, 9), "00000001001": (2, 9),
    "000000100": (3, 9),
    "000000001011": (0, 10), "000000001110": (1, 10),
    "000000001101": (2, 10), "00000001100": (3, 10),
    "000000001000": (0, 11), "000000001010": (1, 11),
    "000000001001": (2, 11), "00000001000": (3, 11),
    "0000000001111": (0, 12), "0000000001110": (1, 12),
    "0000000001101": (2, 12), "000000001100": (3, 12),
    "0000000001011": (0, 13), "0000000001010": (1, 13),
    "0000000001001": (2, 13), "0000000001100": (3, 13),
    "0000000000111": (0, 14), "00000000001011": (1, 14),
    "0000000000110": (2, 14), "0000000001000": (3, 14),
    "00000000001001": (0, 15), "00000000001000": (1, 15),
    "00000000001010": (2, 15), "0000000000001": (3, 15),
    "00000000000111": (0, 16), "00000000000110": (1, 16),
    "00000000000101": (2, 16), "00000000000100": (3, 16),
}

_CT_NC4 = {
    "1111": (0, 0),
    "001111": (0, 1), "1110": (1, 1),
    "001011": (0, 2), "01111": (1, 2), "1101": (2, 2),
    "001000": (0, 3), "01100": (1, 3), "01110": (2, 3), "1100": (3, 3),
    "0001111": (0, 4), "01010": (1, 4), "01011": (2, 4), "1011": (3, 4),
    "0001011": (0, 5), "01000": (1, 5), "01001": (2, 5), "1010": (3, 5),
    "0001001": (0, 6), "001110": (1, 6), "001101": (2, 6), "1001": (3, 6),
    "0001000": (0, 7), "001010": (1, 7), "001001": (2, 7), "1000": (3, 7),
    "00001111": (0, 8), "0001110": (1, 8), "0001101": (2, 8),
    "01101": (3, 8),
    "00001011": (0, 9), "00001110": (1, 9), "0001010": (2, 9),
    "001100": (3, 9),
    "000001111": (0, 10), "00001010": (1, 10), "00001101": (2, 10),
    "0001100": (3, 10),
    "000001011": (0, 11), "000001110": (1, 11), "00001001": (2, 11),
    "00001100": (3, 11),
    "000001000": (0, 12), "000001010": (1, 12), "000001101": (2, 12),
    "00001000": (3, 12),
    "0000001101": (0, 13), "000000111": (1, 13), "000001001": (2, 13),
    "000001100": (3, 13),
    "0000001001": (0, 14), "0000001100": (1, 14), "0000001011": (2, 14),
    "0000001010": (3, 14),
    "0000000101": (0, 15), "0000001000": (1, 15), "0000000111": (2, 15),
    "0000000110": (3, 15),
    "0000000001": (0, 16), "0000000100": (1, 16), "0000000011": (2, 16),
    "0000000010": (3, 16),
}

# chroma DC 4:2:0 (nC == -1)
_CT_CHROMA_DC = {
    "01": (0, 0),
    "000111": (0, 1), "1": (1, 1),
    "000100": (0, 2), "000110": (1, 2), "001": (2, 2),
    "000011": (0, 3), "0000011": (1, 3), "0000010": (2, 3),
    "000101": (3, 3),
    "000010": (0, 4), "00000011": (1, 4), "00000010": (2, 4),
    "0000000": (3, 4),
}

# total_zeros for 4x4 blocks (maxNumCoeff 15/16), indexed by TotalCoeff
_TZ_4x4 = {
    1: ["1", "011", "010", "0011", "0010", "00011", "00010", "000011",
        "000010", "0000011", "0000010", "00000011", "00000010",
        "000000011", "000000010", "000000001"],
    2: ["111", "110", "101", "100", "011", "0101", "0100", "0011",
        "0010", "00011", "00010", "000011", "000010", "000001",
        "000000"],
    3: ["0101", "111", "110", "101", "0100", "0011", "100", "011",
        "0010", "00011", "00010", "000001", "00001", "000000"],
    4: ["00011", "111", "0101", "0100", "110", "101", "100", "0011",
        "011", "0010", "00010", "00001", "00000"],
    5: ["0101", "0100", "0011", "111", "110", "101", "100", "011",
        "0010", "00001", "0001", "00000"],
    6: ["000001", "00001", "111", "110", "101", "100", "011", "010",
        "0001", "001", "000000"],
    7: ["000001", "00001", "101", "100", "011", "11", "010", "0001",
        "001", "000000"],
    8: ["000001", "0001", "00001", "011", "11", "10", "010", "001",
        "000000"],
    9: ["000001", "000000", "0001", "11", "10", "001", "01", "00001"],
    10: ["00001", "00000", "001", "11", "10", "01", "0001"],
    11: ["0000", "0001", "001", "010", "1", "011"],
    12: ["0000", "0001", "01", "1", "001"],
    13: ["000", "001", "1", "01"],
    14: ["00", "01", "1"],
    15: ["0", "1"],
}

# total_zeros for 2x2 chroma DC blocks (maxNumCoeff 4)
_TZ_CHROMA_DC = {
    1: ["1", "01", "001", "000"],
    2: ["1", "01", "00"],
    3: ["1", "0"],
}

# run_before, indexed by min(zerosLeft, 7)
_RUN_BEFORE = {
    1: ["1", "0"],
    2: ["1", "01", "00"],
    3: ["11", "10", "01", "00"],
    4: ["11", "10", "01", "001", "000"],
    5: ["11", "10", "011", "010", "001", "000"],
    6: ["11", "000", "001", "011", "010", "101", "100"],
    7: ["111", "110", "101", "100", "011", "010", "001"],
}

# zigzag scan for 4x4 blocks
_ZIGZAG4 = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

# coded_block_pattern me(v) mapping, Intra column of Table 9-4
_CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]

# Table 9-4 Inter column (coded_block_pattern me(v) mapping for P
# macroblocks); like the Intra column it must be a permutation of
# 0..47 — validated at import alongside the VLC tables
_CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]
_CBP_INTER_INV = {v: i for i, v in enumerate(_CBP_INTER)}

# dequant scale (v0: DC-class, v1: diag-class, v2: rest) per qp%6
_DEQUANT_V = [
    (10, 16, 13), (11, 18, 14), (13, 20, 16),
    (14, 23, 18), (16, 25, 20), (18, 29, 23),
]

# chroma QP mapping for qPi in 30..51 (identity below 30)
_QPC_TAB = [29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37,
            37, 38, 38, 38, 39, 39, 39, 39]


def _check_prefix_free(name: str, codes) -> None:
    codes = sorted(codes)
    for a, b in zip(codes, codes[1:]):
        if b.startswith(a):
            raise AssertionError(f"H264 table {name}: '{a}' prefixes '{b}'")


def _check_complete(name: str, codes) -> None:
    # Kraft sum == 1 for a complete prefix code
    s = sum(2 ** -len(c) for c in codes)
    if abs(s - 1.0) > 1e-12:
        raise AssertionError(f"H264 table {name}: Kraft sum {s} != 1")


def _check_kraft_near(name: str, codes) -> None:
    # some spec tables are deliberately incomplete (e.g. total_zeros
    # TotalCoeff=1 leaves one 9-bit leaf unused): require a valid
    # prefix code (Kraft <= 1) that is still near-complete — a badly
    # mistranscribed table lands far from 1
    s = sum(2 ** -len(c) for c in codes)
    if s > 1.0 + 1e-12 or s < 0.95:
        raise AssertionError(f"H264 table {name}: Kraft sum {s}")


def _validate_tables() -> None:
    for name, tbl in (
        ("coeff_token nC<2", _CT_NC0),
        ("coeff_token 2<=nC<4", _CT_NC2),
        ("coeff_token 4<=nC<8", _CT_NC4),
        ("coeff_token chromaDC", _CT_CHROMA_DC),
    ):
        _check_prefix_free(name, tbl.keys())
        if len(tbl) != (62 if "chromaDC" not in name else 14):
            raise AssertionError(f"H264 table {name}: {len(tbl)} entries")
    _check_complete("coeff_token chromaDC", _CT_CHROMA_DC.keys())
    for tc, codes in _TZ_4x4.items():
        if len(codes) != 17 - tc:
            raise AssertionError(f"H264 total_zeros tc={tc}: wrong size")
        _check_prefix_free(f"total_zeros tc={tc}", codes)
        _check_kraft_near(f"total_zeros tc={tc}", codes)
    for tc, codes in _TZ_CHROMA_DC.items():
        _check_prefix_free(f"tz_chroma tc={tc}", codes)
        _check_complete(f"tz_chroma tc={tc}", codes)
    for zl, codes in _RUN_BEFORE.items():
        _check_prefix_free(f"run_before zl={zl}", codes)
        if zl < 7:
            _check_complete(f"run_before zl={zl}", codes)
    for name, col in (("cbp intra", _CBP_INTRA), ("cbp inter", _CBP_INTER)):
        if sorted(col) != list(range(48)):
            raise AssertionError(f"H264 table {name}: not a permutation")


_validate_tables()


def _vlc(codes) -> tuple[dict, int]:
    """A prefix code as (codeword -> value, longest codeword length); a
    list of codewords maps each one to its index."""
    table = codes if isinstance(codes, dict) else {c: i for i, c in enumerate(codes)}
    return table, max(map(len, table))


# decoder views, built once
_CT_CHROMA_DC_VLC, _CT_NC0_VLC, _CT_NC2_VLC, _CT_NC4_VLC = map(
    _vlc, (_CT_CHROMA_DC, _CT_NC0, _CT_NC2, _CT_NC4)
)
_TZ_4x4_VLC = {tc: _vlc(c) for tc, c in _TZ_4x4.items()}
_TZ_CHROMA_DC_VLC = {tc: _vlc(c) for tc, c in _TZ_CHROMA_DC.items()}
_RUN_BEFORE_VLC = {zl: _vlc(c) for zl, c in _RUN_BEFORE.items()}


def _read_vlc(r: BitReader, vlc: tuple[dict, int], what: str):
    """Match a prefix code from ``vlc`` (a ``_vlc`` pair)."""
    table, maxlen = vlc
    code = ""
    while len(code) <= maxlen:
        code += "1" if r.bit() else "0"
        if code in table:
            return table[code]
    raise ValueError(f"H264: invalid {what} codeword {code!r}")

# ---------------------------------------------------------------------------
# CAVLC residual block decode (spec 9.2)
# ---------------------------------------------------------------------------


def _coeff_token(r: BitReader, nC: int):
    if nC == -1:
        return _read_vlc(r, _CT_CHROMA_DC_VLC, "coeff_token(chromaDC)")
    if nC < 2:
        return _read_vlc(r, _CT_NC0_VLC, "coeff_token(nC<2)")
    if nC < 4:
        return _read_vlc(r, _CT_NC2_VLC, "coeff_token(2<=nC<4)")
    if nC < 8:
        return _read_vlc(r, _CT_NC4_VLC, "coeff_token(4<=nC<8)")
    # nC >= 8: 6-bit FLC, xxxxyy = (TotalCoeff-1, TrailingOnes);
    # 000011 means TotalCoeff 0
    v = r.u(6)
    if v == 0b000011:
        return (0, 0)
    t1, tc = v & 3, (v >> 2) + 1
    if t1 > min(3, tc):
        raise ValueError(f"H264: invalid FLC coeff_token {v:06b}")
    return (t1, tc)


def residual_block_cavlc(
    r: BitReader, max_coeff: int, nC: int
) -> tuple[list[int], int]:
    """Decode one CAVLC residual block.

    Returns (coeffLevel list of length max_coeff in scan order,
    TotalCoeff) — the caller maps scan order to the 4x4/2x2 layout.
    """
    t1s, total = _coeff_token(r, nC)
    coeffs = [0] * max_coeff
    if total == 0:
        return coeffs, 0
    if total > max_coeff:
        raise ValueError(
            f"H264: coeff_token TotalCoeff {total} > maxNumCoeff {max_coeff}"
        )
    levels = []
    for i in range(t1s):
        levels.append(-1 if r.u(1) else 1)
    suffix_len = 1 if (total > 10 and t1s < 3) else 0
    for i in range(t1s, total):
        # level_prefix: leading zeros before a 1
        prefix = r.unary(32)
        if prefix >= 15:
            suffix_size = prefix - 3
        elif prefix == 14 and suffix_len == 0:
            suffix_size = 4
        else:
            suffix_size = suffix_len
        level_code = min(15, prefix) << suffix_len
        if suffix_size:
            level_code += r.u(suffix_size)
        if prefix >= 15 and suffix_len == 0:
            level_code += 15
        if prefix >= 16:
            level_code += (1 << (prefix - 3)) - 4096
        if i == t1s and t1s < 3:
            level_code += 2
        level = (level_code + 2) >> 1 if level_code % 2 == 0 else -(
            (level_code + 1) >> 1
        )
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros
    if total < max_coeff:
        if nC == -1:
            tz = _read_vlc(r, _TZ_CHROMA_DC_VLC[total], "total_zeros(cdc)")
        else:
            tz = _read_vlc(r, _TZ_4x4_VLC[total], "total_zeros")
    else:
        tz = 0
    if tz > max_coeff - total:
        raise ValueError("H264: total_zeros exceeds available positions")
    # runs (decoded for coefficients in reverse scan order)
    runs = []
    zeros_left = tz
    for i in range(total - 1):
        if zeros_left > 6:
            # Table 9-10 zerosLeft>6 column: 3-bit codes for 0..6 plus
            # the unary tail for run >= 7 ((run-4) zeros then a 1)
            code = r.u(3)
            if code != 0:
                run = 7 - code
            else:
                run = 7 + r.unary(25)
        elif zeros_left > 0:
            run = _read_vlc(r, _RUN_BEFORE_VLC[zeros_left], "run_before")
        else:
            run = 0
        if run > zeros_left:
            raise ValueError("H264: run_before exceeds zeros_left")
        runs.append(run)
        zeros_left -= run
    runs.append(zeros_left)  # last decoded coeff takes the remainder
    # place: levels[] is highest-frequency first
    pos = total + tz - 1
    for i in range(total):
        coeffs[pos] = levels[i]
        pos -= runs[i] + 1
    return coeffs, total


# ---------------------------------------------------------------------------
# dequant + inverse transforms (spec 8.5)
# ---------------------------------------------------------------------------


def _dequant_pos_class(i: int, j: int) -> int:
    if (i % 2 == 0) and (j % 2 == 0):
        return 0
    if (i % 2 == 1) and (j % 2 == 1):
        return 1
    return 2


_DEQ44 = np.empty((6, 4, 4), dtype=np.int64)
for _m in range(6):
    for _i in range(4):
        for _j in range(4):
            _DEQ44[_m, _i, _j] = _DEQUANT_V[_m][_dequant_pos_class(_i, _j)]


def _scan_to_block(coeffs: list[int]) -> np.ndarray:
    """Zigzag scan order -> 4x4 coefficient block (16 coeffs)."""
    b = np.zeros(16, dtype=np.int64)
    for s, v in enumerate(coeffs):
        b[_ZIGZAG4[s]] = v
    return b.reshape(4, 4)


def _scan_to_block_ac(coeffs: list[int]) -> np.ndarray:
    """15-coeff AC scan (positions 1..15 of the zigzag) -> 4x4 block."""
    b = np.zeros(16, dtype=np.int64)
    for s, v in enumerate(coeffs):
        b[_ZIGZAG4[s + 1]] = v
    return b.reshape(4, 4)


def _itransform4(d: np.ndarray) -> np.ndarray:
    """Core inverse 4x4 transform; output residual (needs +32 >> 6)."""
    d = d.astype(np.int64)
    e = np.empty_like(d)
    # horizontal
    e[:, 0] = d[:, 0] + d[:, 2]
    e[:, 1] = d[:, 0] - d[:, 2]
    e[:, 2] = (d[:, 1] >> 1) - d[:, 3]
    e[:, 3] = d[:, 1] + (d[:, 3] >> 1)
    f = np.empty_like(d)
    f[:, 0] = e[:, 0] + e[:, 3]
    f[:, 1] = e[:, 1] + e[:, 2]
    f[:, 2] = e[:, 1] - e[:, 2]
    f[:, 3] = e[:, 0] - e[:, 3]
    g = np.empty_like(d)
    g[0, :] = f[0, :] + f[2, :]
    g[1, :] = f[0, :] - f[2, :]
    g[2, :] = (f[1, :] >> 1) - f[3, :]
    g[3, :] = f[1, :] + (f[3, :] >> 1)
    h = np.empty_like(d)
    h[0, :] = g[0, :] + g[3, :]
    h[1, :] = g[1, :] + g[2, :]
    h[2, :] = g[1, :] - g[2, :]
    h[3, :] = g[0, :] - g[3, :]
    return (h + 32) >> 6


def _ihadamard4(c: np.ndarray) -> np.ndarray:
    """4x4 inverse Hadamard for the Intra16x16 luma DC block."""
    c = c.astype(np.int64)
    e = np.empty_like(c)
    e[:, 0] = c[:, 0] + c[:, 2]
    e[:, 1] = c[:, 0] - c[:, 2]
    e[:, 2] = c[:, 1] - c[:, 3]
    e[:, 3] = c[:, 1] + c[:, 3]
    f = np.empty_like(c)
    f[:, 0] = e[:, 0] + e[:, 3]
    f[:, 1] = e[:, 1] + e[:, 2]
    f[:, 2] = e[:, 1] - e[:, 2]
    f[:, 3] = e[:, 0] - e[:, 3]
    g = np.empty_like(c)
    g[0, :] = f[0, :] + f[2, :]
    g[1, :] = f[0, :] - f[2, :]
    g[2, :] = f[1, :] - f[3, :]
    g[3, :] = f[1, :] + f[3, :]
    h = np.empty_like(c)
    h[0, :] = g[0, :] + g[3, :]
    h[1, :] = g[1, :] + g[2, :]
    h[2, :] = g[1, :] - g[2, :]
    h[3, :] = g[0, :] - g[3, :]
    return h


def _dequant4(c: np.ndarray, qp: int) -> np.ndarray:
    """Flat-matrix dequant of a 4x4 residual block (AC path)."""
    return (c * _DEQ44[qp % 6]) << (qp // 6)


def _dequant_luma_dc(f: np.ndarray, qp: int) -> np.ndarray:
    v0 = _DEQUANT_V[qp % 6][0]
    if qp >= 12:
        return (f * v0) << (qp // 6 - 2)
    shift = 2 - qp // 6
    return (f * v0 + (1 << (shift - 1))) >> shift


def _dequant_chroma_dc(f: np.ndarray, qp: int) -> np.ndarray:
    v0 = _DEQUANT_V[qp % 6][0]
    return ((f * v0) << (qp // 6)) >> 5


def _chroma_qp(qp_y: int, offset: int) -> int:
    qpi = min(51, max(0, qp_y + offset))
    return qpi if qpi < 30 else _QPC_TAB[qpi - 30]

# ---------------------------------------------------------------------------
# intra prediction (spec 8.3)
# ---------------------------------------------------------------------------


def _clip255(a):
    return np.clip(a, 0, 255)


def _pred16(mode: int, top, left, corner) -> np.ndarray:
    """16x16 luma prediction.  top/left are length-16 int arrays or
    None when unavailable; corner is the top-left sample or None."""
    if mode == 0:  # vertical
        if top is None:
            raise ValueError("H264: Intra16x16 vertical without top row")
        return np.tile(top, (16, 1))
    if mode == 1:  # horizontal
        if left is None:
            raise ValueError("H264: Intra16x16 horizontal without left col")
        return np.tile(left.reshape(16, 1), (1, 16))
    if mode == 2:  # DC
        if top is not None and left is not None:
            dc = (int(top.sum()) + int(left.sum()) + 16) >> 5
        elif left is not None:
            dc = (int(left.sum()) + 8) >> 4
        elif top is not None:
            dc = (int(top.sum()) + 8) >> 4
        else:
            dc = 128
        return np.full((16, 16), dc, dtype=np.int64)
    if mode == 3:  # plane
        if top is None or left is None or corner is None:
            raise ValueError("H264: Intra16x16 plane without full border")
        t = np.concatenate(([corner], top)).astype(np.int64)  # t[0]=p[-1,-1]
        l = np.concatenate(([corner], left)).astype(np.int64)
        h = sum((x + 1) * (int(t[9 + x]) - int(t[7 - x])) for x in range(8))
        v = sum((y + 1) * (int(l[9 + y]) - int(l[7 - y])) for y in range(8))
        a = 16 * (int(top[15]) + int(left[15]))
        b = (5 * h + 32) >> 6
        c = (5 * v + 32) >> 6
        ys, xs = np.mgrid[0:16, 0:16]
        return _clip255((a + b * (xs - 7) + c * (ys - 7) + 16) >> 5)
    raise ValueError(f"H264: bad Intra16x16 pred mode {mode}")


def _pred_chroma(mode: int, top, left, corner) -> np.ndarray:
    """8x8 chroma prediction (modes 0 DC, 1 horizontal, 2 vertical,
    3 plane — NOTE the numbering differs from luma 16x16)."""
    if mode == 0:  # DC, per 4x4 sub-block
        out = np.empty((8, 8), dtype=np.int64)
        for yo in (0, 4):
            for xo in (0, 4):
                t = top[xo : xo + 4] if top is not None else None
                l = left[yo : yo + 4] if left is not None else None
                if xo == yo:  # (0,0) and (4,4): average both when present
                    if t is not None and l is not None:
                        dc = (int(t.sum()) + int(l.sum()) + 4) >> 3
                    elif l is not None:
                        dc = (int(l.sum()) + 2) >> 2
                    elif t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    else:
                        dc = 128
                elif xo == 4:  # (4,0): prefer top
                    if t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    elif l is not None:
                        dc = (int(l.sum()) + 2) >> 2
                    else:
                        dc = 128
                else:  # (0,4): prefer left
                    if l is not None:
                        dc = (int(l.sum()) + 2) >> 2
                    elif t is not None:
                        dc = (int(t.sum()) + 2) >> 2
                    else:
                        dc = 128
                out[yo : yo + 4, xo : xo + 4] = dc
        return out
    if mode == 1:  # horizontal
        if left is None:
            raise ValueError("H264: chroma horizontal without left col")
        return np.tile(left.reshape(8, 1), (1, 8))
    if mode == 2:  # vertical
        if top is None:
            raise ValueError("H264: chroma vertical without top row")
        return np.tile(top, (8, 1))
    if mode == 3:  # plane
        if top is None or left is None or corner is None:
            raise ValueError("H264: chroma plane without full border")
        t = np.concatenate(([corner], top)).astype(np.int64)
        l = np.concatenate(([corner], left)).astype(np.int64)
        h = sum((x + 1) * (int(t[5 + x]) - int(t[3 - x])) for x in range(4))
        v = sum((y + 1) * (int(l[5 + y]) - int(l[3 - y])) for y in range(4))
        a = 16 * (int(top[7]) + int(left[7]))
        b = (17 * h + 16) >> 5
        c = (17 * v + 16) >> 5
        ys, xs = np.mgrid[0:8, 0:8]
        return _clip255((a + b * (xs - 3) + c * (ys - 3) + 16) >> 5)
    raise ValueError(f"H264: bad chroma pred mode {mode}")


def _pred4(mode, t, l, q, have_top, have_left, have_corner):
    """4x4 luma prediction.  t: length-8 top row (positions 0..7, with
    4..7 already substituted when top-right is unavailable), l: length-4
    left column, q: top-left corner sample."""
    out = np.empty((4, 4), dtype=np.int64)

    def p(x, y):
        # spec sample addressing: p[x,-1] top (x=-1 -> corner), p[-1,y] left
        if y == -1:
            return q if x == -1 else t[x]
        return l[y]

    if mode == 0:  # vertical
        if not have_top:
            raise ValueError("H264: Intra4x4 vertical without top")
        return np.tile(t[:4], (4, 1))
    if mode == 1:  # horizontal
        if not have_left:
            raise ValueError("H264: Intra4x4 horizontal without left")
        return np.tile(l.reshape(4, 1), (1, 4))
    if mode == 2:  # DC
        if have_top and have_left:
            dc = (int(t[:4].sum()) + int(l.sum()) + 4) >> 3
        elif have_left:
            dc = (int(l.sum()) + 2) >> 2
        elif have_top:
            dc = (int(t[:4].sum()) + 2) >> 2
        else:
            dc = 128
        out[:] = dc
        return out
    if mode == 3:  # diagonal down-left
        if not have_top:
            raise ValueError("H264: Intra4x4 DDL without top")
        for y in range(4):
            for x in range(4):
                if x == 3 and y == 3:
                    out[y, x] = (int(t[6]) + 3 * int(t[7]) + 2) >> 2
                else:
                    out[y, x] = (
                        int(t[x + y]) + 2 * int(t[x + y + 1])
                        + int(t[x + y + 2]) + 2
                    ) >> 2
        return out
    if mode == 4:  # diagonal down-right
        if not (have_top and have_left and have_corner):
            raise ValueError("H264: Intra4x4 DDR without full border")
        for y in range(4):
            for x in range(4):
                if x > y:
                    out[y, x] = (
                        p(x - y - 2, -1) + 2 * p(x - y - 1, -1)
                        + p(x - y, -1) + 2
                    ) >> 2
                elif x < y:
                    out[y, x] = (
                        p(-1, y - x - 2) + 2 * p(-1, y - x - 1)
                        + p(-1, y - x) + 2
                    ) >> 2
                else:
                    out[y, x] = (p(0, -1) + 2 * q + p(-1, 0) + 2) >> 2
        return out
    if mode == 5:  # vertical right
        if not (have_top and have_left and have_corner):
            raise ValueError("H264: Intra4x4 VR without full border")
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    out[y, x] = (
                        p(x - (y >> 1) - 1, -1) + p(x - (y >> 1), -1) + 1
                    ) >> 1
                elif z >= 0:
                    out[y, x] = (
                        p(x - (y >> 1) - 2, -1)
                        + 2 * p(x - (y >> 1) - 1, -1)
                        + p(x - (y >> 1), -1) + 2
                    ) >> 2
                elif z == -1:
                    out[y, x] = (p(-1, 0) + 2 * q + p(0, -1) + 2) >> 2
                else:
                    out[y, x] = (
                        p(-1, y - 2 * x - 1) + 2 * p(-1, y - 2 * x - 2)
                        + p(-1, y - 2 * x - 3) + 2
                    ) >> 2
        return out
    if mode == 6:  # horizontal down
        if not (have_top and have_left and have_corner):
            raise ValueError("H264: Intra4x4 HD without full border")
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    out[y, x] = (
                        p(-1, y - (x >> 1) - 1) + p(-1, y - (x >> 1)) + 1
                    ) >> 1
                elif z >= 0:
                    out[y, x] = (
                        p(-1, y - (x >> 1) - 2)
                        + 2 * p(-1, y - (x >> 1) - 1)
                        + p(-1, y - (x >> 1)) + 2
                    ) >> 2
                elif z == -1:
                    out[y, x] = (p(-1, 0) + 2 * q + p(0, -1) + 2) >> 2
                else:
                    out[y, x] = (
                        p(x - 2 * y - 1, -1) + 2 * p(x - 2 * y - 2, -1)
                        + p(x - 2 * y - 3, -1) + 2
                    ) >> 2
        return out
    if mode == 7:  # vertical left
        if not have_top:
            raise ValueError("H264: Intra4x4 VL without top")
        for y in range(4):
            for x in range(4):
                if y % 2 == 0:
                    out[y, x] = (
                        int(t[x + (y >> 1)]) + int(t[x + (y >> 1) + 1]) + 1
                    ) >> 1
                else:
                    out[y, x] = (
                        int(t[x + (y >> 1)]) + 2 * int(t[x + (y >> 1) + 1])
                        + int(t[x + (y >> 1) + 2]) + 2
                    ) >> 2
        return out
    if mode == 8:  # horizontal up
        if not have_left:
            raise ValueError("H264: Intra4x4 HU without left")
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z % 2 == 0 and z < 6:
                    out[y, x] = (
                        int(l[y + (x >> 1)]) + int(l[y + (x >> 1) + 1]) + 1
                    ) >> 1
                elif z % 2 == 1 and z < 5:
                    out[y, x] = (
                        int(l[y + (x >> 1)]) + 2 * int(l[y + (x >> 1) + 1])
                        + int(l[y + (x >> 1) + 2]) + 2
                    ) >> 2
                elif z == 5:
                    out[y, x] = (int(l[2]) + 3 * int(l[3]) + 2) >> 2
                else:
                    out[y, x] = int(l[3])
        return out
    raise ValueError(f"H264: bad Intra4x4 pred mode {mode}")

# ---------------------------------------------------------------------------
# macroblock / slice decode
# ---------------------------------------------------------------------------

# z-order of 4x4 luma blocks within a macroblock: blkIdx -> (bx, by)
_BLK4_POS = []
for _idx in range(16):
    _q, _s = _idx >> 2, _idx & 3
    _BLK4_POS.append((( _q & 1) * 2 + (_s & 1), (_q >> 1) * 2 + (_s >> 1)))


class _Frame:
    """Decode state for one picture (planes padded to MB multiples)."""

    def __init__(self, sps: dict):
        self.mb_w, self.mb_h = sps["mb_w"], sps["mb_h"]
        self.Y = np.zeros((self.mb_h * 16, self.mb_w * 16), dtype=np.int64)
        self.Cb = np.full((self.mb_h * 8, self.mb_w * 8), 128, dtype=np.int64)
        self.Cr = np.full((self.mb_h * 8, self.mb_w * 8), 128, dtype=np.int64)
        # per-4x4-block CAVLC TotalCoeff (-1 = not yet decoded)
        self.nz_y = np.full((self.mb_h * 4, self.mb_w * 4), -1, dtype=np.int32)
        self.nz_cb = np.full((self.mb_h * 2, self.mb_w * 2), -1, dtype=np.int32)
        self.nz_cr = np.full((self.mb_h * 2, self.mb_w * 2), -1, dtype=np.int32)
        # per-4x4 Intra4x4 prediction mode (-1 = not an I4x4 block)
        self.i4_mode = np.full((self.mb_h * 4, self.mb_w * 4), -1, np.int32)
        self.mb_done = np.zeros((self.mb_h, self.mb_w), dtype=bool)
        # per-MB luma QP for the deblocking filter (I_PCM records 0)
        self.mb_qp = np.zeros((self.mb_h, self.mb_w), dtype=np.int32)
        # inter-prediction state (round 13b, P slices): per-MB intra
        # flag (drives deblock bS 3/4 vs MV/coeff-derived), per-4x4
        # quarter-pel MVs, per-4x4 ref idx (-1 = intra / not decoded),
        # and the per-4x4 decoded mask the MV predictor's neighbor
        # availability test reads (spec 6.4: a neighbor exists iff it
        # is inside the picture AND earlier in decode order)
        self.mb_intra = np.zeros((self.mb_h, self.mb_w), dtype=bool)
        self.mv = np.zeros((self.mb_h * 4, self.mb_w * 4, 2), np.int32)
        self.ref4 = np.full((self.mb_h * 4, self.mb_w * 4), -1, np.int32)
        self.dec4 = np.zeros((self.mb_h * 4, self.mb_w * 4), dtype=bool)


def _nc(nz: np.ndarray, bx: int, by: int) -> int:
    """CAVLC nC from left/top neighbor block TotalCoeffs (9.2.1)."""
    na = nz[by, bx - 1] if bx > 0 else -1
    nb = nz[by - 1, bx] if by > 0 else -1
    if na >= 0 and nb >= 0:
        return (int(na) + int(nb) + 1) >> 1
    if na >= 0:
        return int(na)
    if nb >= 0:
        return int(nb)
    return 0


def _border_luma(fr: _Frame, mx: int, my: int):
    """(top row 16, left col 16, corner) for a 16x16 MB, None if absent."""
    y0, x0 = my * 16, mx * 16
    top = fr.Y[y0 - 1, x0 : x0 + 16] if my > 0 and fr.mb_done[my - 1, mx] else None
    left = fr.Y[y0 : y0 + 16, x0 - 1] if mx > 0 and fr.mb_done[my, mx - 1] else None
    corner = (
        int(fr.Y[y0 - 1, x0 - 1])
        if my > 0 and mx > 0 and fr.mb_done[my - 1, mx - 1]
        else None
    )
    return top, left, corner


def _border_chroma(plane: np.ndarray, fr: _Frame, mx: int, my: int):
    y0, x0 = my * 8, mx * 8
    top = plane[y0 - 1, x0 : x0 + 8] if my > 0 and fr.mb_done[my - 1, mx] else None
    left = plane[y0 : y0 + 8, x0 - 1] if mx > 0 and fr.mb_done[my, mx - 1] else None
    corner = (
        int(plane[y0 - 1, x0 - 1])
        if my > 0 and mx > 0 and fr.mb_done[my - 1, mx - 1]
        else None
    )
    return top, left, corner


def _parse_chroma_residuals(fr, r, mx, my, cbp_c, qpc):
    """Chroma residuals in SPEC order (7.3.5.3.3): BOTH chroma DC
    blocks (Cb then Cr) first, THEN all eight AC blocks (Cb's four,
    then Cr's four) — round-13 review fix: the earlier per-component
    interleave (Cb DC, Cb AC x4, Cr DC, ...) desynced any stream with
    CodedBlockPatternChroma == 2, which real encoders emit constantly.
    Returns {0: (cb_dc_2x2, {sub: ac4x4}), 1: (...)}."""
    cdcs = {}
    for ci in (0, 1):
        if cbp_c > 0:
            c, _ = residual_block_cavlc(r, 4, -1)
            f = np.array(
                [
                    [c[0] + c[1] + c[2] + c[3], c[0] - c[1] + c[2] - c[3]],
                    [c[0] + c[1] - c[2] - c[3], c[0] - c[1] - c[2] + c[3]],
                ],
                dtype=np.int64,
            )
            cdcs[ci] = _dequant_chroma_dc(f, qpc)
        else:
            cdcs[ci] = np.zeros((2, 2), dtype=np.int64)
    ch = {}
    cgx, cgy = mx * 2, my * 2
    for ci, nz in ((0, fr.nz_cb), (1, fr.nz_cr)):
        cacs = {}
        for sub in range(4):
            sx, sy = sub & 1, sub >> 1
            if cbp_c == 2:
                coeffs, total = residual_block_cavlc(
                    r, 15, _nc(nz, cgx + sx, cgy + sy)
                )
                nz[cgy + sy, cgx + sx] = total
                cacs[sub] = _scan_to_block_ac(coeffs)
            else:
                nz[cgy + sy, cgx + sx] = 0
                cacs[sub] = np.zeros((4, 4), dtype=np.int64)
        ch[ci] = (cdcs[ci], cacs)
    return ch


def _decode_mb_i16(fr, r, mx, my, mb_type, qp, chroma_qp_offset):
    pm = (mb_type - 1) % 4
    cbp_c = ((mb_type - 1) // 4) % 3
    cbp_l = 15 if (mb_type - 1) >= 12 else 0
    chroma_mode = r.ue()
    if chroma_mode > 3:
        raise ValueError(f"H264: bad intra_chroma_pred_mode {chroma_mode}")
    qp_delta = r.se()
    qp = (qp + qp_delta + 52) % 52
    # Intra16x16DCLevel: nC as if luma4x4BlkIdx 0
    gx, gy = mx * 4, my * 4
    dc_coeffs, _ = residual_block_cavlc(r, 16, _nc(fr.nz_y, gx, gy))
    dc = _dequant_luma_dc(_ihadamard4(_scan_to_block(dc_coeffs)), qp)
    # AC blocks (z-order); nz updated as we parse so in-MB nC chains work
    acs = {}
    for idx in range(16):
        bx, by = _BLK4_POS[idx]
        if cbp_l:
            coeffs, total = residual_block_cavlc(
                r, 15, _nc(fr.nz_y, gx + bx, gy + by)
            )
            fr.nz_y[gy + by, gx + bx] = total
            acs[idx] = _scan_to_block_ac(coeffs)
        else:
            fr.nz_y[gy + by, gx + bx] = 0
            acs[idx] = np.zeros((4, 4), dtype=np.int64)
    # chroma residuals
    qpc = _chroma_qp(qp, chroma_qp_offset)
    ch = _parse_chroma_residuals(fr, r, mx, my, cbp_c, qpc)
    # ---- reconstruct ----
    y0, x0 = my * 16, mx * 16
    top, left, corner = _border_luma(fr, mx, my)
    pred = _pred16(pm, top, left, corner)
    for idx in range(16):
        bx, by = _BLK4_POS[idx]
        d = _dequant4(acs[idx], qp)
        d[0, 0] = dc[by, bx]
        res = _itransform4(d)
        ys, xs = y0 + by * 4, x0 + bx * 4
        fr.Y[ys : ys + 4, xs : xs + 4] = _clip255(
            pred[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + res
        )
    for ci, plane in ((0, fr.Cb), (1, fr.Cr)):
        t, l, q = _border_chroma(plane, fr, mx, my)
        cpred = _pred_chroma(chroma_mode, t, l, q)
        cdc, cacs = ch[ci]
        cy0, cx0 = my * 8, mx * 8
        for sub in range(4):
            sx, sy = sub & 1, sub >> 1
            d = _dequant4(cacs[sub], qpc)
            d[0, 0] = cdc[sy, sx]
            res = _itransform4(d)
            plane[cy0 + sy * 4 : cy0 + sy * 4 + 4,
                  cx0 + sx * 4 : cx0 + sx * 4 + 4] = _clip255(
                cpred[sy * 4 : sy * 4 + 4, sx * 4 : sx * 4 + 4] + res
            )
    return qp


def _decode_mb_i4(fr, r, mx, my, qp, chroma_qp_offset):
    gx, gy = mx * 4, my * 4

    def _neighbor_mode(nbx: int, nby: int):
        """Intra4x4 mode of the neighbor 4x4 block at global (nbx, nby):
        None when unavailable, 2 (DC) when the neighbor MB is not
        Intra_4x4 coded, else its stored mode.  In-MB neighbors are
        always z-order predecessors (already parsed this loop)."""
        if nbx < 0 or nby < 0:
            return None
        nmx, nmy = nbx // 4, nby // 4
        if nmx == mx and nmy == my:
            m = fr.i4_mode[nby, nbx]
            return int(m)  # z-order guarantees it is set
        if not (nmx < fr.mb_w and nmy < fr.mb_h and fr.mb_done[nmy, nmx]):
            return None
        m = fr.i4_mode[nby, nbx]
        return int(m) if m >= 0 else 2

    # 1. prediction modes for all 16 blocks (parse order = z-order)
    modes = [0] * 16
    for idx in range(16):
        bx, by = _BLK4_POS[idx]
        ma = _neighbor_mode(gx + bx - 1, gy + by)
        mb = _neighbor_mode(gx + bx, gy + by - 1)
        pred_mode = 2 if (ma is None or mb is None) else min(ma, mb)
        if r.u(1):
            mode = pred_mode
        else:
            rem = r.u(3)
            mode = rem if rem < pred_mode else rem + 1
        modes[idx] = mode
        fr.i4_mode[gy + by, gx + bx] = mode
    chroma_mode = r.ue()
    if chroma_mode > 3:
        raise ValueError(f"H264: bad intra_chroma_pred_mode {chroma_mode}")
    cbp_code = r.ue()
    if cbp_code >= 48:
        raise ValueError(f"H264: bad coded_block_pattern code {cbp_code}")
    cbp = _CBP_INTRA[cbp_code]
    cbp_l, cbp_c = cbp & 15, cbp >> 4
    if cbp:
        qp = (qp + r.se() + 52) % 52
    # 2. luma residuals per block (z-order)
    acs = {}
    for idx in range(16):
        bx, by = _BLK4_POS[idx]
        if cbp_l & (1 << (idx >> 2)):
            coeffs, total = residual_block_cavlc(
                r, 16, _nc(fr.nz_y, gx + bx, gy + by)
            )
            fr.nz_y[gy + by, gx + bx] = total
            acs[idx] = _scan_to_block(coeffs)
        else:
            fr.nz_y[gy + by, gx + bx] = 0
            acs[idx] = np.zeros((4, 4), dtype=np.int64)
    # 3. chroma residuals (same layout as I16x16)
    qpc = _chroma_qp(qp, chroma_qp_offset)
    ch = _parse_chroma_residuals(fr, r, mx, my, cbp_c, qpc)
    # 4. reconstruct luma block-by-block in z-order (prediction uses
    #    already-reconstructed in-MB neighbors)
    y0, x0 = my * 16, mx * 16
    done4 = np.zeros((4, 4), dtype=bool)  # in-MB 4x4 reconstruction state

    def avail4(bx, by):
        # availability of the 4x4 block at MB-grid offsets (may be
        # negative / in a neighbor MB)
        if 0 <= bx < 4 and 0 <= by < 4:
            return done4[by, bx]
        nmx, nmy = (gx + bx) // 4, (gy + by) // 4
        if not (0 <= nmx < fr.mb_w and 0 <= nmy < fr.mb_h):
            return False
        return bool(fr.mb_done[nmy, nmx])

    for idx in range(16):
        bx, by = _BLK4_POS[idx]
        ys, xs = y0 + by * 4, x0 + bx * 4
        have_top = avail4(bx, by - 1)
        have_left = avail4(bx - 1, by)
        have_corner = avail4(bx - 1, by - 1)
        have_tr = avail4(bx + 1, by - 1)
        t = np.zeros(8, dtype=np.int64)
        l = np.zeros(4, dtype=np.int64)
        q = 0
        if have_top:
            t[:4] = fr.Y[ys - 1, xs : xs + 4]
            if have_tr:
                t[4:] = fr.Y[ys - 1, xs + 4 : xs + 8]
            else:
                t[4:] = t[3]  # spec substitution: replicate p[3,-1]
        if have_left:
            l[:] = fr.Y[ys : ys + 4, xs - 1]
        if have_corner:
            q = int(fr.Y[ys - 1, xs - 1])
        pred = _pred4(modes[idx], t, l, q, have_top, have_left, have_corner)
        res = _itransform4(_dequant4(acs[idx], qp))
        fr.Y[ys : ys + 4, xs : xs + 4] = _clip255(pred + res)
        done4[by, bx] = True
    # 5. chroma reconstruction
    for ci, plane in ((0, fr.Cb), (1, fr.Cr)):
        tt, ll, qq = _border_chroma(plane, fr, mx, my)
        cpred = _pred_chroma(chroma_mode, tt, ll, qq)
        cdc, cacs = ch[ci]
        cy0, cx0 = my * 8, mx * 8
        for sub in range(4):
            sx, sy = sub & 1, sub >> 1
            d = _dequant4(cacs[sub], qpc)
            d[0, 0] = cdc[sy, sx]
            res = _itransform4(d)
            plane[cy0 + sy * 4 : cy0 + sy * 4 + 4,
                  cx0 + sx * 4 : cx0 + sx * 4 + 4] = _clip255(
                cpred[sy * 4 : sy * 4 + 4, sx * 4 : sx * 4 + 4] + res
            )
    return qp


def _decode_mb_pcm(fr, r, mx, my):
    if r.align():
        raise ValueError("H264: nonzero pcm alignment bit")
    y0, x0 = my * 16, mx * 16
    for yy in range(16):
        for xx in range(16):
            fr.Y[y0 + yy, x0 + xx] = r.u(8)
    cy0, cx0 = my * 8, mx * 8
    for plane in (fr.Cb, fr.Cr):
        for yy in range(8):
            for xx in range(8):
                plane[cy0 + yy, cx0 + xx] = r.u(8)
    # spec: I_PCM blocks count as 16 coefficients for neighbor nC
    fr.nz_y[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 16
    fr.nz_cb[my * 2 : my * 2 + 2, mx * 2 : mx * 2 + 2] = 16
    fr.nz_cr[my * 2 : my * 2 + 2, mx * 2 : mx * 2 + 2] = 16


# ---------------------------------------------------------------------------
# inter prediction (round 13b: P slices — spec 8.4)
# ---------------------------------------------------------------------------


def _mc_luma(ref: np.ndarray, x0: int, y0: int, w: int, h: int,
             mvx: int, mvy: int) -> np.ndarray:
    """Quarter-pel luma motion compensation (spec 8.4.2.2.1): 6-tap
    (1,-5,20,20,-5,1) half-pel filter, (x+16)>>5 / centre (j) at
    (x+512)>>10 from UNROUNDED intermediates, quarter-pel samples as
    +1>>1 averages of the two nearest integer/half samples.  All
    integer arithmetic — P-frame reconstruction is exactly testable.
    Out-of-picture reads clamp to the edge (spec sample clipping)."""
    xi, yi = x0 + (mvx >> 2), y0 + (mvy >> 2)
    fx, fy = mvx & 3, mvy & 3
    H, W = ref.shape
    rows = np.clip(np.arange(yi - 2, yi + h + 4), 0, H - 1)
    cols = np.clip(np.arange(xi - 2, xi + w + 4), 0, W - 1)
    G = ref[np.ix_(rows, cols)].astype(np.int64)  # (h+6, w+6), base -2
    if fx == 0 and fy == 0:
        return G[2 : 2 + h, 2 : 2 + w]

    def hfilt(a):
        return (a[:, :-5] - 5 * a[:, 1:-4] + 20 * a[:, 2:-3]
                + 20 * a[:, 3:-2] - 5 * a[:, 4:-1] + a[:, 5:])

    def vfilt(a):
        return (a[:-5] - 5 * a[1:-4] + 20 * a[2:-3]
                + 20 * a[3:-2] - 5 * a[4:-1] + a[5:])

    def avg(p, q):
        return (p + q + 1) >> 1

    full = G[2 : 3 + h, 2 : 3 + w]  # fullpel rows/cols 0..h / 0..w
    b1 = hfilt(G)  # unrounded horizontal half-pel, (h+6, w+1)
    b = np.clip((b1[2 : 3 + h] + 16) >> 5, 0, 255)  # (h+1, w+1)
    hh = np.clip((vfilt(G)[:, 2 : 3 + w] + 16) >> 5, 0, 255)  # (h+1, w+1)
    if (fx, fy) == (2, 0):
        return b[:h, :w]
    if (fx, fy) == (0, 2):
        return hh[:h, :w]
    j = None
    if fx == 2 or fy == 2:
        j = np.clip((vfilt(b1) + 512) >> 10, 0, 255)  # (h+1, w+1)
    F00, F10, F01 = full[:h, :w], full[:h, 1 : w + 1], full[1 : h + 1, :w]
    bb, bb_d = b[:h, :w], b[1 : h + 1, :w]  # b / s (= b one row down)
    hc, h_r = hh[:h, :w], hh[:h, 1 : w + 1]  # h / m (= h one col right)
    if (fx, fy) == (1, 0):
        return avg(F00, bb)  # a
    if (fx, fy) == (3, 0):
        return avg(bb, F10)  # c
    if (fx, fy) == (0, 1):
        return avg(F00, hc)  # d
    if (fx, fy) == (0, 3):
        return avg(hc, F01)  # n
    if (fx, fy) == (1, 1):
        return avg(bb, hc)  # e
    if (fx, fy) == (3, 1):
        return avg(bb, h_r)  # g
    if (fx, fy) == (1, 3):
        return avg(hc, bb_d)  # p
    if (fx, fy) == (3, 3):
        return avg(h_r, bb_d)  # r
    jj = j[:h, :w]
    if (fx, fy) == (2, 1):
        return avg(bb, jj)  # f
    if (fx, fy) == (1, 2):
        return avg(hc, jj)  # i
    if (fx, fy) == (2, 2):
        return jj  # j
    if (fx, fy) == (3, 2):
        return avg(jj, h_r)  # k
    return avg(jj, bb_d)  # q (2, 3)


def _mc_chroma(refc: np.ndarray, cx0: int, cy0: int, w: int, h: int,
               mvx: int, mvy: int) -> np.ndarray:
    """Eighth-pel bilinear chroma MC (spec 8.4.2.2.2): the luma
    quarter-pel MV addresses chroma (half resolution) in eighth
    samples; weights (8-dx)(8-dy)/dx(8-dy)/(8-dx)dy/dxdy, +32 >> 6."""
    xi, yi = cx0 + (mvx >> 3), cy0 + (mvy >> 3)
    fx, fy = mvx & 7, mvy & 7
    H, W = refc.shape
    rows = np.clip(np.arange(yi, yi + h + 1), 0, H - 1)
    cols = np.clip(np.arange(xi, xi + w + 1), 0, W - 1)
    A = refc[np.ix_(rows, cols)].astype(np.int64)
    a, b = A[:h, :w], A[:h, 1:]
    c, d = A[1:, :w], A[1:, 1:]
    return ((8 - fx) * (8 - fy) * a + fx * (8 - fy) * b
            + (8 - fx) * fy * c + fx * fy * d + 32) >> 6


def _mvp(fr: "_Frame", gx4: int, gy4: int, w4: int, h4: int,
         kind: str) -> tuple[int, int]:
    """Motion-vector predictor (spec 8.4.1.3) for the partition whose
    top-left 4x4 block is (gx4, gy4) with size (w4, h4) in 4x4 units.

    Neighbors A (left) / B (top) / C (top-right, D top-left fallback)
    at 4x4 granularity; unavailable = outside the picture or not yet
    decoded (fr.dec4).  Intra neighbors are AVAILABLE with ref -1 and
    mv 0 (8.4.1.3.2).  kind encodes the 16x8/8x16 directional rules;
    everything else uses one-matching-ref-else-median."""
    W4, H4 = fr.mb_w * 4, fr.mb_h * 4

    def nb(bx, by):
        if bx < 0 or by < 0 or bx >= W4 or by >= H4 or not fr.dec4[by, bx]:
            return None
        return (int(fr.ref4[by, bx]), int(fr.mv[by, bx, 0]),
                int(fr.mv[by, bx, 1]))

    A = nb(gx4 - 1, gy4)
    B = nb(gx4, gy4 - 1)
    C = nb(gx4 + w4, gy4 - 1)
    D = nb(gx4 - 1, gy4 - 1)
    # directional rules (current ref is always 0 in this decoder)
    if kind == "16x8_0" and B is not None and B[0] == 0:
        return B[1], B[2]
    if kind == "16x8_1" and A is not None and A[0] == 0:
        return A[1], A[2]
    if kind == "8x16_0" and A is not None and A[0] == 0:
        return A[1], A[2]
    if kind == "8x16_1":
        CC = C if C is not None else D
        if CC is not None and CC[0] == 0:
            return CC[1], CC[2]
    if C is None:
        C = D  # 6.4.11.7: D substitutes an unavailable C
    if B is None and C is None:
        # nothing above at all: mvp = mvA (or 0 at the first MB)
        return (A[1], A[2]) if A is not None else (0, 0)
    cands = [A, B, C]
    match = [c for c in cands if c is not None and c[0] == 0]
    if len(match) == 1:
        return match[0][1], match[0][2]
    xs = sorted(0 if c is None else c[1] for c in cands)
    ys = sorted(0 if c is None else c[2] for c in cands)
    return xs[1], ys[1]


def _skip_mv(fr: "_Frame", gx4: int, gy4: int) -> tuple[int, int]:
    """P_Skip MV (spec 8.4.1.1): zero when the left or top MB is
    outside the picture or either 16x16 neighbor block has ref 0 with
    a zero MV; otherwise the 16x16 MV predictor."""
    if gx4 == 0 or gy4 == 0:
        return 0, 0
    ar = int(fr.ref4[gy4, gx4 - 1])
    amx, amy = int(fr.mv[gy4, gx4 - 1, 0]), int(fr.mv[gy4, gx4 - 1, 1])
    br = int(fr.ref4[gy4 - 1, gx4])
    bmx, bmy = int(fr.mv[gy4 - 1, gx4, 0]), int(fr.mv[gy4 - 1, gx4, 1])
    if (ar == 0 and amx == 0 and amy == 0) or (
            br == 0 and bmx == 0 and bmy == 0):
        return 0, 0
    return _mvp(fr, gx4, gy4, 4, 4, "16x16")


def _p_partitions(mb_type: int, sub_types):
    """Yield (kind, bx4, by4, w4, h4) in decode order, offsets in 4x4
    units relative to the MB (7.4.5: P_L0_16x16 / 16x8 / 8x16 / P_8x8
    with per-8x8 sub_mb_type 8x8 / 8x4 / 4x8 / 4x4)."""
    if mb_type == 0:
        yield "16x16", 0, 0, 4, 4
    elif mb_type == 1:
        yield "16x8_0", 0, 0, 4, 2
        yield "16x8_1", 0, 2, 4, 2
    elif mb_type == 2:
        yield "8x16_0", 0, 0, 2, 4
        yield "8x16_1", 2, 0, 2, 4
    else:
        for i in range(4):
            ox, oy = (i & 1) * 2, (i >> 1) * 2
            st = sub_types[i]
            if st == 0:
                yield "sub", ox, oy, 2, 2
            elif st == 1:
                yield "sub", ox, oy, 2, 1
                yield "sub", ox, oy + 1, 2, 1
            elif st == 2:
                yield "sub", ox, oy, 1, 2
                yield "sub", ox + 1, oy, 1, 2
            else:
                for j in range(4):
                    yield "sub", ox + (j & 1), oy + (j >> 1), 1, 1


def _mc_partition(fr, refs, mx, my, bx4, by4, w4, h4, mvx, mvy,
                  pred_y, pred_cb, pred_cr):
    """Run MC for one partition into the MB-local prediction buffers
    and record its MV/ref in the frame's 4x4 grids."""
    ref_y, ref_cb, ref_cr = refs
    gx4, gy4 = mx * 4 + bx4, my * 4 + by4
    fr.mv[gy4 : gy4 + h4, gx4 : gx4 + w4] = (mvx, mvy)
    fr.ref4[gy4 : gy4 + h4, gx4 : gx4 + w4] = 0
    fr.dec4[gy4 : gy4 + h4, gx4 : gx4 + w4] = True
    pred_y[by4 * 4 : (by4 + h4) * 4, bx4 * 4 : (bx4 + w4) * 4] = _mc_luma(
        ref_y, mx * 16 + bx4 * 4, my * 16 + by4 * 4,
        w4 * 4, h4 * 4, mvx, mvy)
    for plane, buf in ((ref_cb, pred_cb), (ref_cr, pred_cr)):
        buf[by4 * 2 : (by4 + h4) * 2, bx4 * 2 : (bx4 + w4) * 2] = _mc_chroma(
            plane, mx * 8 + bx4 * 2, my * 8 + by4 * 2,
            w4 * 2, h4 * 2, mvx, mvy)


def _decode_mb_p_skip(fr, refs, mx, my, qp):
    """P_Skip: 16x16 MC at the skip MV, no residual (8.4.1.1)."""
    gx4, gy4 = mx * 4, my * 4
    mvx, mvy = _skip_mv(fr, gx4, gy4)
    pred_y = np.empty((16, 16), dtype=np.int64)
    pred_cb = np.empty((8, 8), dtype=np.int64)
    pred_cr = np.empty((8, 8), dtype=np.int64)
    _mc_partition(fr, refs, mx, my, 0, 0, 4, 4, mvx, mvy,
                  pred_y, pred_cb, pred_cr)
    fr.Y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = pred_y
    fr.Cb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = pred_cb
    fr.Cr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = pred_cr
    fr.nz_y[gy4 : gy4 + 4, gx4 : gx4 + 4] = 0
    fr.nz_cb[my * 2 : my * 2 + 2, mx * 2 : mx * 2 + 2] = 0
    fr.nz_cr[my * 2 : my * 2 + 2, mx * 2 : mx * 2 + 2] = 0
    fr.mb_qp[my, mx] = qp
    fr.mb_done[my, mx] = True


def _decode_mb_inter(fr, r, refs, mx, my, mb_type, qp, chroma_qp_offset):
    """P macroblock (7.3.5.1/7.3.5.2): partition MVs (mvd against the
    spec predictor, derived in partition decode order), quarter-pel MC,
    then the inter residual — CBP via the Table 9-4 Inter column, luma
    as full 16-coefficient 4x4 blocks (no DC Hadamard), chroma exactly
    as intra."""
    if mb_type in (3, 4):
        sub_types = [r.ue() for _ in range(4)]
        if any(st > 3 for st in sub_types):
            raise ValueError(f"H264: invalid P sub_mb_type {sub_types}")
    else:
        sub_types = None
    # num_ref_idx_l0_active == 1 is enforced at the slice header, so
    # ref_idx_l0 is absent from the bitstream and every ref is 0
    gx4, gy4 = mx * 4, my * 4
    pred_y = np.empty((16, 16), dtype=np.int64)
    pred_cb = np.empty((8, 8), dtype=np.int64)
    pred_cr = np.empty((8, 8), dtype=np.int64)
    for kind, bx4, by4, w4, h4 in _p_partitions(mb_type, sub_types):
        mvdx, mvdy = r.se(), r.se()
        px, py = _mvp(fr, gx4 + bx4, gy4 + by4, w4, h4, kind)
        _mc_partition(fr, refs, mx, my, bx4, by4, w4, h4,
                      px + mvdx, py + mvdy, pred_y, pred_cb, pred_cr)
    cbp_code = r.ue()
    if cbp_code >= 48:
        raise ValueError(f"H264: bad coded_block_pattern code {cbp_code}")
    cbp = _CBP_INTER[cbp_code]
    cbp_l, cbp_c = cbp & 15, cbp >> 4
    if cbp:
        qp = (qp + r.se() + 52) % 52
    y0, x0 = my * 16, mx * 16
    for idx in range(16):
        bx, by = _BLK4_POS[idx]
        if cbp_l & (1 << (idx >> 2)):
            coeffs, total = residual_block_cavlc(
                r, 16, _nc(fr.nz_y, gx4 + bx, gy4 + by)
            )
            fr.nz_y[gy4 + by, gx4 + bx] = total
            res = _itransform4(_dequant4(_scan_to_block(coeffs), qp))
        else:
            fr.nz_y[gy4 + by, gx4 + bx] = 0
            res = 0
        ys, xs = y0 + by * 4, x0 + bx * 4
        fr.Y[ys : ys + 4, xs : xs + 4] = _clip255(
            pred_y[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] + res
        )
    qpc = _chroma_qp(qp, chroma_qp_offset)
    ch = _parse_chroma_residuals(fr, r, mx, my, cbp_c, qpc)
    cy0, cx0 = my * 8, mx * 8
    for ci, (plane, cpred) in enumerate(
            ((fr.Cb, pred_cb), (fr.Cr, pred_cr))):
        cdc, cacs = ch[ci]
        for sub in range(4):
            sx, sy = sub & 1, sub >> 1
            d = _dequant4(cacs[sub], qpc)
            d[0, 0] = cdc[sy, sx]
            res = _itransform4(d)
            plane[cy0 + sy * 4 : cy0 + sy * 4 + 4,
                  cx0 + sx * 4 : cx0 + sx * 4 + 4] = _clip255(
                cpred[sy * 4 : sy * 4 + 4, sx * 4 : sx * 4 + 4] + res
            )
    fr.mb_qp[my, mx] = qp
    fr.mb_done[my, mx] = True
    return qp


def _parse_slice_header(r: BitReader, sps: dict, pps: dict,
                        nal_ref_idc: int, idr: bool) -> dict:
    """Parse an I- or P-slice header (7.3.3); returns {ptype, qp,
    deblock, off_a, off_b}.  B/SP/SI, multi-slice pictures, reference
    list modification, weighted prediction, MMCO and multi-reference
    lists refuse at marked seams."""
    first_mb = r.ue()
    if first_mb != 0:
        raise NotImplementedError(
            "H264: multi-slice pictures: plug ffmpeg in here"
        )
    slice_type = r.ue()
    if slice_type % 5 == 2:
        ptype = "I"
    elif slice_type % 5 == 0:
        ptype = "P"
        if idr:
            raise ValueError("H264: P slice inside an IDR picture")
    else:
        raise NotImplementedError(
            f"H264: slice_type {slice_type} (B/SP/SI): plug ffmpeg in here"
        )
    r.ue()  # pic_parameter_set_id
    r.u(sps["log2_max_frame_num"])  # frame_num
    if idr:
        r.ue()  # idr_pic_id
    if sps["poc_type"] == 0:
        r.u(sps["log2_max_poc_lsb"])
        if pps["pic_order_present"]:
            r.se()  # delta_pic_order_cnt_bottom
    elif sps["poc_type"] == 1 and not sps["delta_poc_always_zero"]:
        r.se()
        if pps["pic_order_present"]:
            r.se()
    if pps["redundant_present"]:
        if r.ue() != 0:  # redundant_pic_cnt
            raise NotImplementedError(
                "H264: redundant coded pictures: plug ffmpeg in here"
            )
    if ptype == "P":
        num_ref = pps["num_ref_l0"]
        if r.u(1):  # num_ref_idx_active_override_flag
            num_ref = r.ue() + 1
        if num_ref != 1:
            raise NotImplementedError(
                f"H264: {num_ref} L0 reference pictures (only 1): "
                "plug ffmpeg in here"
            )
        if r.u(1):  # ref_pic_list_modification_flag_l0
            raise NotImplementedError(
                "H264: reference list modification: plug ffmpeg in here"
            )
        if pps["weighted_pred"]:
            raise NotImplementedError(
                "H264: weighted prediction: plug ffmpeg in here"
            )
        if pps["constrained_intra"]:
            # intra MBs in P slices would have to treat inter neighbors
            # as unavailable for prediction; this decoder reads them —
            # refuse rather than reconstruct silently wrong (harmless
            # for all-intra pictures, which have no inter neighbors)
            raise NotImplementedError(
                "H264: constrained_intra_pred in P slices: plug ffmpeg "
                "in here"
            )
    if idr:
        r.u(1)  # no_output_of_prior_pics_flag
        r.u(1)  # long_term_reference_flag
    elif nal_ref_idc != 0:
        if r.u(1):  # adaptive_ref_pic_marking_mode_flag
            raise NotImplementedError(
                "H264: adaptive ref pic marking (MMCO): plug ffmpeg in here"
            )
    qp = pps["pic_init_qp"] + r.se()
    if not 0 <= qp <= 51:
        raise ValueError(f"H264: slice QP {qp} out of range")
    # deblocking (round 13: implemented — spec 8.7 post-pass): idc 0 =
    # filter on, 1 = off, 2 = on but not across slice boundaries
    # (single-slice pictures: same as 0)
    deblock, off_a, off_b = True, 0, 0
    if pps["deblocking_control"]:
        idc = r.ue()
        if idc > 2:
            raise ValueError(f"H264: invalid deblocking idc {idc}")
        deblock = idc != 1
        if idc != 1:
            off_a = 2 * r.se()
            off_b = 2 * r.se()
    return {"ptype": ptype, "qp": qp, "deblock": deblock,
            "off_a": off_a, "off_b": off_b}


def _decode_i_mb(fr, r, mx, my, qp, off):
    """One I macroblock by (I-slice-numbered) mb_type; returns qp."""
    mb_type = r.ue()
    return _decode_i_mb_typed(fr, r, mx, my, mb_type, qp, off)


def _decode_i_mb_typed(fr, r, mx, my, mb_type, qp, off):
    if mb_type == 25:
        _decode_mb_pcm(fr, r, mx, my)
        fr.mb_qp[my, mx] = 0  # spec: I_PCM edges carry QP 0
    elif mb_type == 0:
        qp = _decode_mb_i4(fr, r, mx, my, qp, off)
        fr.mb_qp[my, mx] = qp
    elif 1 <= mb_type <= 24:
        qp = _decode_mb_i16(fr, r, mx, my, mb_type, qp, off)
        fr.mb_qp[my, mx] = qp
    else:
        raise ValueError(f"H264: invalid I mb_type {mb_type}")
    fr.mb_intra[my, mx] = True
    gx4, gy4 = mx * 4, my * 4
    fr.dec4[gy4 : gy4 + 4, gx4 : gx4 + 4] = True  # ref stays -1, mv 0
    fr.mb_done[my, mx] = True
    return qp


def decode_slice(sps: dict, pps: dict, nalu: bytes,
                 ref: tuple | None = None):
    """Decode one coded-slice NAL unit.

    Returns (rgb_frame, (Y, Cb, Cr) padded int64 planes) — the planes
    are the deblocked, uncropped reconstruction, i.e. exactly what a
    following P slice must receive as ``ref``.  I slices ignore
    ``ref``; P slices require the previous reference picture's planes.
    """
    if not nalu:
        raise ValueError("H264: empty NAL unit")
    nal_ref_idc = (nalu[0] >> 5) & 3
    nal_type = nalu[0] & 0x1F
    if nal_type not in (1, 5):
        raise ValueError(f"H264: NAL type {nal_type} is not a coded slice")
    r = BitReader(ebsp_to_rbsp(nalu[1:]), codec="H264")
    hdr = _parse_slice_header(r, sps, pps, nal_ref_idc, nal_type == 5)
    qp = hdr["qp"]
    fr = _Frame(sps)
    off = pps["chroma_qp_offset"]
    if hdr["ptype"] == "I":
        for my in range(fr.mb_h):
            for mx in range(fr.mb_w):
                qp = _decode_i_mb(fr, r, mx, my, qp, off)
    else:
        if ref is None:
            raise ValueError("H264: P slice without a reference frame")
        ref_y, ref_cb, ref_cr = ref
        if ref_y.shape != fr.Y.shape:
            raise ValueError(
                f"H264: reference geometry {ref_y.shape} does not match "
                f"picture {fr.Y.shape}"
            )
        total = fr.mb_w * fr.mb_h
        mb_idx = 0
        while mb_idx < total:
            run = r.ue()
            if run > total - mb_idx:
                raise ValueError(
                    f"H264: mb_skip_run {run} overruns picture "
                    f"({total - mb_idx} MBs left)"
                )
            for _ in range(run):
                my, mx = divmod(mb_idx, fr.mb_w)
                _decode_mb_p_skip(fr, ref, mx, my, qp)
                mb_idx += 1
            if mb_idx == total:
                break
            if not _more_rbsp_data(r):
                raise ValueError(
                    f"H264: P slice data ends after {mb_idx}/{total} MBs"
                )
            my, mx = divmod(mb_idx, fr.mb_w)
            mb_type = r.ue()
            if mb_type < 5:
                qp = _decode_mb_inter(fr, r, ref, mx, my, mb_type, qp, off)
                fr.mb_done[my, mx] = True
            else:
                qp = _decode_i_mb_typed(fr, r, mx, my, mb_type - 5, qp, off)
            mb_idx += 1
    if hdr["deblock"]:
        _deblock_picture(fr, hdr["off_a"], hdr["off_b"], off)
    # crop (4:2:0 frame: units of 2 luma samples)
    cl, crp, ct, cb = sps["crop"]
    y = fr.Y[2 * ct : fr.mb_h * 16 - 2 * cb, 2 * cl : fr.mb_w * 16 - 2 * crp]
    cbp = fr.Cb[ct : fr.mb_h * 8 - cb, cl : fr.mb_w * 8 - crp]
    crp_ = fr.Cr[ct : fr.mb_h * 8 - cb, cl : fr.mb_w * 8 - crp]
    return _yuv420_to_rgb(y, cbp, crp_), (fr.Y, fr.Cb, fr.Cr)


def decode_i_slice(sps: dict, pps: dict, nalu: bytes) -> np.ndarray:
    """Decode one IDR / I-slice NAL unit to an RGB uint8 frame."""
    return decode_slice(sps, pps, nalu)[0]


def _yuv420_to_rgb(y, cb, cr) -> np.ndarray:
    """BT.601 full-range conversion, same arithmetic as the JPEG path
    (operators/jpeg.py::_finish_planes) so cross-container pixel pins
    hold; chroma upsampled by sample repetition."""
    cb = np.repeat(np.repeat(cb, 2, axis=0), 2, axis=1)[: y.shape[0], : y.shape[1]]
    cr = np.repeat(np.repeat(cr, 2, axis=0), 2, axis=1)[: y.shape[0], : y.shape[1]]
    yf = y.astype(np.float64)
    r = yf + 1.402 * (cr - 128.0)
    g = yf - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = yf + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )


def split_mp4_sample(sample: bytes, length_size: int = 4) -> list[bytes]:
    """Split an MP4 sample into NAL units (length-prefixed framing)."""
    nalus = []
    pos = 0
    n = len(sample)
    while pos < n:
        if pos + length_size > n:
            raise ValueError("H264: truncated NAL length prefix")
        ln = int.from_bytes(sample[pos : pos + length_size], "big")
        pos += length_size
        if pos + ln > n:
            raise ValueError("H264: NAL unit overruns sample")
        if ln == 0:
            raise ValueError("H264: zero-length NAL unit")
        nalus.append(sample[pos : pos + ln])
        pos += ln
    return nalus


def h264_decode_sample(
    sps: dict, pps: dict, sample: bytes, length_size: int = 4,
    ref: tuple | None = None,
) -> np.ndarray:
    """Decode one MP4 sample (access unit) to an RGB uint8 frame.

    Skips SEI/AUD/filler NAL units; requires exactly one coded slice.
    Keyframe-sampling pipelines hand intra samples here (no ``ref``
    needed); P samples need the previous reference picture's planes —
    use H264SampleDecoder for sequential decode."""
    slice_nalu = None
    for nalu in split_mp4_sample(sample, length_size):
        t = nalu[0] & 0x1F
        if t in (1, 5):
            if slice_nalu is not None:
                raise NotImplementedError(
                    "H264: multiple slices per access unit: plug ffmpeg "
                    "in here"
                )
            slice_nalu = nalu
        elif t in (6, 9, 12):  # SEI / AUD / filler
            continue
        elif t == 7:
            sps = parse_sps(nalu)  # in-band parameter set update
        elif t == 8:
            pps = parse_pps(nalu)
        else:
            raise NotImplementedError(
                f"H264: NAL unit type {t}: plug ffmpeg in here"
            )
    if slice_nalu is None:
        raise ValueError("H264: sample contains no coded slice")
    return decode_slice(sps, pps, slice_nalu, ref)[0]


class H264SampleDecoder:
    """Sequential access-unit decoder with reference tracking: feed
    MP4 samples in decode order; P samples predict from the most
    recent REFERENCE picture (nal_ref_idc > 0 — non-reference frames
    never become prediction sources, spec 8.2.5 sliding window with
    max_num_ref_frames 1)."""

    def __init__(self, sps: dict, pps: dict, length_size: int = 4):
        self.sps, self.pps = sps, pps
        self.length_size = length_size
        self._ref: tuple | None = None

    def decode(self, sample: bytes) -> np.ndarray:
        slice_nalu = None
        ref_idc = 0
        for nalu in split_mp4_sample(sample, self.length_size):
            t = nalu[0] & 0x1F
            if t in (1, 5):
                if slice_nalu is not None:
                    raise NotImplementedError(
                        "H264: multiple slices per access unit: plug "
                        "ffmpeg in here"
                    )
                slice_nalu = nalu
                ref_idc = (nalu[0] >> 5) & 3
            elif t in (6, 9, 12):
                continue
            elif t == 7:
                self.sps = parse_sps(nalu)
            elif t == 8:
                self.pps = parse_pps(nalu)
            else:
                raise NotImplementedError(
                    f"H264: NAL unit type {t}: plug ffmpeg in here"
                )
        if slice_nalu is None:
            raise ValueError("H264: sample contains no coded slice")
        rgb, planes = decode_slice(self.sps, self.pps, slice_nalu, self._ref)
        if ref_idc > 0:
            self._ref = planes
        return rgb

# ---------------------------------------------------------------------------
# fixture encoder (I_PCM / flat-DC Intra_16x16), deterministic
# ---------------------------------------------------------------------------


def _nal(header: int, rbsp: bytes) -> bytes:
    return bytes([header]) + rbsp_to_ebsp(rbsp)


def encode_sps(mb_w: int, mb_h: int, crop_r: int, crop_b: int) -> bytes:
    w = BitWriter()
    w.u(66, 8)  # baseline profile
    w.u(0, 8)  # constraint flags
    w.u(30, 8)  # level 3.0
    w.ue(0)  # sps_id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type (decode order == output order)
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num
    w.ue(mb_w - 1)
    w.ue(mb_h - 1)
    w.u(1, 1)  # frame_mbs_only
    w.u(1, 1)  # direct_8x8_inference
    if crop_r or crop_b:
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present
    _rbsp_trailing(w)
    return _nal(0x67, w.to_bytes())


def encode_pps(qp: int) -> bytes:
    w = BitWriter()
    w.ue(0)  # pps_id
    w.ue(0)  # sps_id
    w.u(0, 1)  # CAVLC
    w.u(0, 1)  # pic_order_present
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0
    w.ue(0)  # num_ref_idx_l1
    w.u(0, 1)  # weighted_pred
    w.u(0, 2)  # weighted_bipred_idc
    w.se(qp - 26)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(1, 1)  # deblocking_filter_control_present
    w.u(0, 1)  # constrained_intra_pred
    w.u(0, 1)  # redundant_pic_cnt_present
    _rbsp_trailing(w)
    return _nal(0x68, w.to_bytes())


def _write_slice_header(w: BitWriter, idr: bool,
                        deblocking: bool = False) -> None:
    w.ue(0)  # first_mb_in_slice
    w.ue(7)  # slice_type: I (all slices in picture)
    w.ue(0)  # pps_id
    w.u(0, 4)  # frame_num (log2_max_frame_num == 4)
    if idr:
        w.ue(0)  # idr_pic_id
        w.u(0, 1)  # no_output_of_prior_pics
        w.u(0, 1)  # long_term_reference
    # poc_type 2: no POC syntax; non-IDR slices are written with
    # nal_ref_idc 0, so dec_ref_pic_marking is absent
    w.se(0)  # slice_qp_delta
    if deblocking:
        w.ue(0)  # disable_deblocking_filter_idc: filter ON
        w.se(0)  # slice_alpha_c0_offset_div2
        w.se(0)  # slice_beta_offset_div2
    else:
        w.ue(1)  # disable_deblocking_filter_idc: OFF


def _flat_chroma_dc_coeff(delta: int, qpc: int) -> int:
    """Chroma DC coefficient whose 2x2-Hadamard + dequant + DC-only
    inverse transform reconstructs EXACTLY ``delta`` on all four 4x4
    chroma blocks: only c[0,0] nonzero -> Hadamard gives f==c00
    everywhere; dcC = ((c00*v0) << (qpc//6)) >> 5; pixel delta =
    (dcC + 32) >> 6."""
    if delta == 0:
        return 0
    v0 = _DEQUANT_V[qpc % 6][0]

    # python's >> floors signed values exactly like the decoder's
    # numpy int64 arithmetic shift
    def deq_exact(c):
        return ((c * v0) << (qpc // 6)) >> 5

    guess = (64 * delta * 32) // (v0 << (qpc // 6))
    for c in range(guess - 8, guess + 9):
        if c == 0:
            continue
        if ((deq_exact(c) + 32) >> 6) == delta:
            return c
    raise ValueError(
        f"H264 encoder: no exact chroma DC coefficient for delta "
        f"{delta} at qpc {qpc}"
    )


def _write_level_code(w: BitWriter, lc: int, suffix_len: int) -> None:
    """Emit one CAVLC level code at the given suffixLength — the exact
    inverse of the decoder's level-prefix/suffix logic, including the
    prefix>=16 escape ranges (levelCode += (1<<(prefix-3)) - 4096)."""
    if suffix_len == 0:
        if lc < 14:
            w.u(1, lc + 1)  # lc zeros, then a 1
            return
        if lc < 30:
            w.u(1, 14 + 1)  # 14 zeros, then a 1
            w.u(lc - 14, 4)
            return
        if lc < 30 + 4096:
            w.u(1, 15 + 1)  # 15 zeros, then a 1
            w.u(lc - 30, 12)
            return
        base15 = 30
    else:
        prefix = lc >> suffix_len
        if prefix < 15:
            w.u(1, prefix + 1)  # prefix zeros, then a 1
            w.u(lc & ((1 << suffix_len) - 1), suffix_len)
            return
        if lc - (15 << suffix_len) < 4096:
            w.u(1, 15 + 1)  # 15 zeros, then a 1
            w.u(lc - (15 << suffix_len), 12)
            return
        base15 = 15 << suffix_len
    # prefix >= 16 escape: levelCode = base15 + (1<<(p-3)) - 4096 + suffix
    for p in range(16, 33):
        base = base15 + (1 << (p - 3)) - 4096
        if lc - base < (1 << (p - 3)):
            if lc < base:
                break
            w.u(1, p + 1)  # p zeros, then a 1
            w.u(lc - base, p - 3)
            return
    raise ValueError(f"H264 encoder: levelCode {lc} unencodable")


def _flat_dc_coeff(delta: int, qp: int) -> int:
    """DC-of-DC coefficient whose reconstruction is EXACTLY ``delta``
    on every pixel of the macroblock: search C with
    ((dequant_luma_dc(C) + 32) >> 6) == delta.  Solvable whenever the
    dequant step is < 64 (qp <= 27 with v0 table max 18<<2=72 at 29...
    callers use qp <= 24)."""
    if delta == 0:
        return 0
    v0 = _DEQUANT_V[qp % 6][0]
    if qp >= 12:
        step_num, step_den = v0 << (qp // 6 - 2), 1

        def deq(c):
            return c * step_num
    else:
        shift = 2 - qp // 6
        step_num, step_den = v0, 1 << shift

        def deq(c):
            return (c * v0 + (1 << (shift - 1))) >> shift
    # dequant slope is step_num/step_den per coefficient unit
    guess = (64 * delta * step_den) // step_num
    for c in range(guess - 8, guess + 9):
        if c == 0:
            continue
        if ((deq(c) + 32) >> 6) == delta:
            return c
    raise ValueError(
        f"H264 encoder: no exact DC coefficient for delta {delta} at qp {qp}"
    )


def encode_flat_i16_slice(value: int, mb_w: int, mb_h: int, qp: int,
                          idr: bool = True,
                          chroma: tuple = (128, 128),
                          deblocking: bool = False) -> bytes:
    """A whole picture of solid luma ``value`` and solid ``chroma``
    (Cb, Cr) as Intra_16x16 DC-prediction macroblocks: MB(0,0)
    predicts 128 on every plane and carries one luma-DC-Hadamard
    coefficient (plus one chroma DC coefficient per non-128 chroma
    plane — cbp_chroma=1, the nC==-1 CAVLC table); every other MB
    predicts the target from its decoded neighbors and codes nothing.
    Integer-exact reconstruction on all three planes (see
    _flat_dc_coeff / _flat_chroma_dc_coeff) — the id-arithmetic oracle
    path for compressed H.264, now in color."""
    cb, cr = chroma
    for v, what in ((value, "luma"), (cb, "Cb"), (cr, "Cr")):
        if not 0 <= v <= 255:
            raise ValueError(f"H264 encoder: {what} value {v} out of range")
    w = BitWriter()
    _write_slice_header(w, idr, deblocking)
    c0 = _flat_dc_coeff(value - 128, qp)
    qpc = _chroma_qp(qp, 0)
    chroma_coded = (cb, cr) != (128, 128)
    ccb = _flat_chroma_dc_coeff(cb - 128, qpc) if chroma_coded else 0
    ccr = _flat_chroma_dc_coeff(cr - 128, qpc) if chroma_coded else 0
    for my in range(mb_h):
        for mx in range(mb_w):
            first = mx == 0 and my == 0
            # mb_type 1 + predmode(DC=2) + 4*cbp_chroma + 12*cbp_luma
            w.ue(7 if (first and chroma_coded) else 3)
            w.ue(0)  # intra_chroma_pred_mode: DC
            w.se(0)  # mb_qp_delta
            if first:
                encode_residual_block_cavlc(w, [c0] + [0] * 15, 0)
                if chroma_coded:  # Cb then Cr chroma DC blocks
                    encode_residual_block_cavlc(w, [ccb, 0, 0, 0], -1)
                    encode_residual_block_cavlc(w, [ccr, 0, 0, 0], -1)
            else:
                encode_residual_block_cavlc(w, [0] * 16, 0)
    _rbsp_trailing(w)
    return _nal(0x65 if idr else 0x01, w.to_bytes())


def encode_pcm_slice(frame: np.ndarray, idr: bool = True,
                     deblocking: bool = False) -> bytes:
    """Whole picture as I_PCM macroblocks — byte-exact for ANY gray
    frame (dimensions must be multiples of 16; chroma written 128)."""
    h, wd = frame.shape[:2]
    if h % 16 or wd % 16:
        raise ValueError("H264 encoder: PCM fixture needs 16-aligned dims")
    if frame.ndim != 2:
        raise ValueError("H264 encoder: PCM fixture takes gray frames")
    mb_w, mb_h = wd // 16, h // 16
    w = BitWriter()
    _write_slice_header(w, idr, deblocking)
    for my in range(mb_h):
        for mx in range(mb_w):
            w.ue(25)  # I_PCM
            w.align()  # pcm_alignment_zero_bit
            blk = frame[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16]
            for yy in range(16):
                for xx in range(16):
                    w.u(int(blk[yy, xx]), 8)
            for _ in range(2):  # Cb then Cr, flat 128
                for _ in range(64):
                    w.u(128, 8)
    _rbsp_trailing(w)
    return _nal(0x65 if idr else 0x01, w.to_bytes())


def _write_p_slice_header(w: BitWriter, frame_num: int,
                          deblocking: bool = False) -> None:
    """P-slice header matching the fixture SPS/PPS (poc_type 2,
    num_ref_idx_l0_active 1, weighted_pred off) — written with
    nal_ref_idc > 0, so dec_ref_pic_marking (the zero adaptive flag)
    is present."""
    w.ue(0)  # first_mb_in_slice
    w.ue(5)  # slice_type: P (all slices in picture)
    w.ue(0)  # pps_id
    w.u(frame_num % 16, 4)  # frame_num (log2_max_frame_num == 4)
    w.u(0, 1)  # num_ref_idx_active_override_flag
    w.u(0, 1)  # ref_pic_list_modification_flag_l0
    w.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
    w.se(0)  # slice_qp_delta
    if deblocking:
        w.ue(0)  # disable_deblocking_filter_idc: filter ON
        w.se(0)
        w.se(0)
    else:
        w.ue(1)  # OFF


def _flat_inter_dc_coeff(delta: int, qp: int) -> int:
    """Coefficient at scan position 0 of an inter luma 4x4 block whose
    dequant + DC-only inverse transform reconstructs EXACTLY ``delta``
    on all 16 pixels: d00 = (c*v0) << (qp//6); pixel = (d00+32) >> 6.
    Unlike the Intra_16x16 path there is no DC-Hadamard gain, so the
    step per coefficient unit is v0 << (qp//6) — every delta is exactly
    representable only for qp <= 16 (step <= 64); higher QPs raise for
    unreachable deltas."""
    if delta == 0:
        return 0
    v0 = _DEQUANT_V[qp % 6][0]

    def deq(c):
        return (c * v0) << (qp // 6)

    guess = (64 * delta) // (v0 << (qp // 6))
    for c in range(guess - 8, guess + 9):
        if c == 0:
            continue
        if ((deq(c) + 32) >> 6) == delta:
            return c
    raise ValueError(
        f"H264 encoder: no exact inter DC coefficient for delta "
        f"{delta} at qp {qp}"
    )


_P_MB_TYPE = {"16x16": 0, "16x8": 1, "8x16": 2, "8x8": 3}


def encode_p_slice(mbs: list, mb_w: int, mb_h: int, qp: int,
                   frame_num: int, deblocking: bool = False) -> bytes:
    """Encode one P slice from per-MB specs (fixture writer).

    Each entry of ``mbs`` (raster order, len mb_w*mb_h) is either the
    string "skip" (P_Skip) or a dict:
      {"mv": (x, y)}                      P_L0_16x16 at that MV
      {"parts": "16x8"|"8x16", "mvs": [mv0, mv1]}
      {"parts": "8x8", "subs": [st0..st3], "mvs": [per partition]}
    plus optional "dy"/"dcb"/"dcr" flat residual deltas (DC-only
    blocks, exact through the real CAVLC path — 16x16 only).  MV
    differences are coded against the spec predictor via the SAME
    _mvp derivation the decoder runs (the pixel-exactness tests pin
    the result against an independent per-pixel MC dual, so encoder
    and decoder cannot be wrong together unnoticed).  MVs are
    quarter-pel.
    """
    if len(mbs) != mb_w * mb_h:
        raise ValueError(
            f"H264 encoder: {len(mbs)} MB specs for {mb_w}x{mb_h} picture"
        )
    fr = _Frame({"mb_w": mb_w, "mb_h": mb_h})
    w = BitWriter()
    _write_p_slice_header(w, frame_num, deblocking)
    qpc = _chroma_qp(qp, 0)
    run = 0
    for i, spec in enumerate(mbs):
        my, mx = divmod(i, mb_w)
        gx4, gy4 = mx * 4, my * 4
        if spec == "skip":
            mvx, mvy = _skip_mv(fr, gx4, gy4)
            fr.mv[gy4 : gy4 + 4, gx4 : gx4 + 4] = (mvx, mvy)
            fr.ref4[gy4 : gy4 + 4, gx4 : gx4 + 4] = 0
            fr.dec4[gy4 : gy4 + 4, gx4 : gx4 + 4] = True
            run += 1
            continue
        w.ue(run)  # mb_skip_run before this coded MB
        run = 0
        parts = spec.get("parts", "16x16")
        mb_type = _P_MB_TYPE[parts]
        if mb_type == 3:
            subs = spec["subs"]
            if len(subs) != 4 or any(not 0 <= s <= 3 for s in subs):
                raise ValueError(f"H264 encoder: bad sub types {subs}")
        else:
            subs = None
        mvs = spec["mvs"] if "mvs" in spec else [spec["mv"]]
        w.ue(mb_type)
        if subs is not None:
            for s in subs:
                w.ue(s)
        plist = list(_p_partitions(mb_type, subs))
        if len(mvs) != len(plist):
            raise ValueError(
                f"H264 encoder: {len(mvs)} MVs for {len(plist)} partitions"
            )
        for (kind, bx4, by4, w4, h4), (mvx, mvy) in zip(plist, mvs):
            px, py = _mvp(fr, gx4 + bx4, gy4 + by4, w4, h4, kind)
            w.se(mvx - px)
            w.se(mvy - py)
            fr.mv[gy4 + by4 : gy4 + by4 + h4,
                  gx4 + bx4 : gx4 + bx4 + w4] = (mvx, mvy)
            fr.ref4[gy4 + by4 : gy4 + by4 + h4,
                    gx4 + bx4 : gx4 + bx4 + w4] = 0
            fr.dec4[gy4 + by4 : gy4 + by4 + h4,
                    gx4 + bx4 : gx4 + bx4 + w4] = True
        dy = spec.get("dy", 0)
        dcb, dcr = spec.get("dcb", 0), spec.get("dcr", 0)
        if (dy or dcb or dcr) and parts != "16x16":
            raise ValueError(
                "H264 encoder: flat residual only on 16x16 partitions"
            )
        cbp_l = 15 if dy else 0
        cbp_c = 1 if (dcb or dcr) else 0
        w.ue(_CBP_INTER_INV[cbp_l + 16 * cbp_c])
        if cbp_l or cbp_c:
            w.se(0)  # mb_qp_delta
        if cbp_l:
            cy = _flat_inter_dc_coeff(dy, qp)
            for _ in range(16):
                # every block carries TotalCoeff 1, so the in-picture
                # nC chain stays 0/1 — always the nC<2 table
                encode_residual_block_cavlc(w, [cy] + [0] * 15, 0)
        if cbp_c:
            for d in (dcb, dcr):
                c = _flat_chroma_dc_coeff(d, qpc)
                encode_residual_block_cavlc(w, [c, 0, 0, 0], -1)
    if run:
        w.ue(run)  # trailing skip run
    _rbsp_trailing(w)
    return _nal(0x41, w.to_bytes())  # nal_ref_idc 2, coded slice


def h264_encode_pgop_frames(
    specs: list, width: int, height: int, qp: int = 12,
    deblocking: bool = True,
) -> tuple[bytes, bytes, list[bytes], list[bool]]:
    """Encode a solid-frame GOP with REAL P slices.

    ``specs`` drives decode-order frames:
      ("idr", value)   IDR flat Intra_16x16 picture at that luma
      ("skip",)        whole-picture P_Skip (exact copy of the ref)
      ("pdelta", d)    P picture: 16x16 zero-MV MC + flat DC residual
                       d on every MB (value shifts by d exactly)
      ("pmv", (x, y))  P picture: constant quarter-pel MV pan, no
                       residual (on solid content MC is the identity,
                       so the value is unchanged — the full 6-tap /
                       bilinear interpolation path still runs)
    Every frame is a reference (sliding-window size 1); deblocking is
    ON by default — flat surfaces and bS-0 edges make it pixel-exact,
    while the bS 4/3 (intra), 2 (coefficients) and 0 (equal-MV) paths
    all execute.  Returns (sps, pps, samples, is_sync)."""
    if not specs or specs[0][0] != "idr":
        raise ValueError("H264 encoder: GOP must start with an IDR")
    if width % 2 or height % 2:
        raise ValueError("H264 encoder: dimensions must be even")
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16
    sps = encode_sps(
        mb_w, mb_h, (mb_w * 16 - width) // 2, (mb_h * 16 - height) // 2
    )
    pps = encode_pps(qp)
    samples, sync = [], []
    n_mbs = mb_w * mb_h
    frame_num = 0
    for spec in specs:
        tag = spec[0]
        if tag == "idr":
            nalu = encode_flat_i16_slice(
                int(spec[1]), mb_w, mb_h, qp, idr=True, deblocking=deblocking
            )
            frame_num = 1
            is_sync = True
        else:
            if tag == "skip":
                mbs: list = ["skip"] * n_mbs
            elif tag == "pdelta":
                mbs = [{"mv": (0, 0), "dy": int(spec[1])}] * n_mbs
            elif tag == "pmv":
                mbs = [{"mv": (int(spec[1][0]), int(spec[1][1]))}] * n_mbs
            else:
                raise ValueError(f"H264 encoder: unknown GOP spec {tag!r}")
            nalu = encode_p_slice(mbs, mb_w, mb_h, qp, frame_num, deblocking)
            frame_num = (frame_num + 1) % 16
            is_sync = False
        samples.append(struct.pack(">I", len(nalu)) + nalu)
        sync.append(is_sync)
    return sps, pps, samples, sync


def h264_encode_solid_ycbcr_frames(
    ycbcr: list, width: int, height: int, qp: int = 12, key_every: int = 1
) -> tuple[bytes, bytes, list[bytes], list[bool]]:
    """Encode solid COLOR frames given per-frame (y, cb, cr) triples —
    the flat-DC path on all three planes (chroma DC coefficients ride
    the nC==-1 CAVLC table).  Reconstruction is integer-exact in YCbCr
    space; the RGB output is the decoder's deterministic BT.601
    conversion of those exact planes."""
    if not ycbcr:
        raise ValueError("H264 encoder: no frames")
    if key_every < 1:
        raise ValueError(f"key_every must be >= 1, got {key_every}")
    if width % 2 or height % 2:
        raise ValueError("H264 encoder: dimensions must be even")
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16
    sps = encode_sps(
        mb_w, mb_h, (mb_w * 16 - width) // 2, (mb_h * 16 - height) // 2
    )
    pps = encode_pps(qp)
    samples, sync = [], []
    for i, (y, cb, cr) in enumerate(ycbcr):
        idr = (i % key_every) == 0
        nalu = encode_flat_i16_slice(
            int(y), mb_w, mb_h, qp, idr, chroma=(int(cb), int(cr))
        )
        samples.append(struct.pack(">I", len(nalu)) + nalu)
        sync.append(idr)
    return sps, pps, samples, sync


def h264_encode_gray_frames(
    frames: list, qp: int = 12, mode: str = "dc16", key_every: int = 1
) -> tuple[bytes, bytes, list[bytes], list[bool]]:
    """Encode gray frames to (sps_nalu, pps_nalu, samples, is_sync).

    mode='dc16' requires each frame solid (one value everywhere) —
    integer-exact through the real CAVLC/transform path; mode='pcm'
    takes arbitrary 16-aligned gray frames.  ``key_every``: every k-th
    frame is an IDR (sync sample, listed in stss); the others are
    non-IDR I slices — the stss subset a keyframe sampler seeks to.
    Samples are MP4 length-prefixed (4-byte) single-NALU payloads.
    """
    if not frames:
        raise ValueError("H264 encoder: no frames")
    if key_every < 1:
        raise ValueError(f"key_every must be >= 1, got {key_every}")
    h, wd = frames[0].shape[:2]
    if h % 2 or wd % 2:
        raise ValueError("H264 encoder: dimensions must be even")
    mb_w, mb_h = (wd + 15) // 16, (h + 15) // 16
    crop_r = (mb_w * 16 - wd) // 2
    crop_b = (mb_h * 16 - h) // 2
    sps = encode_sps(mb_w, mb_h, crop_r, crop_b)
    pps = encode_pps(qp)
    samples, sync = [], []
    for i, f in enumerate(frames):
        if f.shape[:2] != (h, wd):
            raise ValueError("H264 encoder: frame geometry mismatch")
        idr = (i % key_every) == 0
        if mode == "dc16":
            vals = np.unique(f)
            if len(vals) != 1:
                raise ValueError(
                    "H264 encoder: dc16 mode needs solid frames"
                )
            nalu = encode_flat_i16_slice(int(vals[0]), mb_w, mb_h, qp, idr)
        elif mode == "pcm":
            if crop_r or crop_b:
                raise ValueError(
                    "H264 encoder: PCM fixture needs 16-aligned dims"
                )
            nalu = encode_pcm_slice(np.asarray(f, dtype=np.uint8), idr)
        else:
            raise ValueError(f"H264 encoder: unknown mode {mode!r}")
        samples.append(struct.pack(">I", len(nalu)) + nalu)
        sync.append(idr)
    return sps, pps, samples, sync

# ---------------------------------------------------------------------------
# general CAVLC block encoder (exact inverse of residual_block_cavlc)
# ---------------------------------------------------------------------------

_CT_ENC = {
    0: {v: k for k, v in _CT_NC0.items()},
    2: {v: k for k, v in _CT_NC2.items()},
    4: {v: k for k, v in _CT_NC4.items()},
    -1: {v: k for k, v in _CT_CHROMA_DC.items()},
}


def encode_residual_block_cavlc(
    w: BitWriter, coeffs: list, nC: int
) -> int:
    """CAVLC-encode one residual block (scan-order coefficient list);
    returns TotalCoeff.  The exact inverse of residual_block_cavlc —
    the differential-fuzz tests pin decode(encode(x)) == x over random
    blocks, levels, runs, and every nC class."""
    max_coeff = len(coeffs)
    pos = [i for i, c in enumerate(coeffs) if c != 0]
    total = len(pos)
    # trailing ones: up to 3 consecutive +-1 at the high-frequency end
    t1s = 0
    for p in reversed(pos):
        if abs(coeffs[p]) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    # coeff_token: a VLC string from the nC class's table, or the
    # 6-bit FLC for nC >= 8
    if nC < 8:
        cls = -1 if nC == -1 else 0 if nC < 2 else 2 if nC < 4 else 4
        code = _CT_ENC[cls][(t1s, total)]
        w.u(int(code, 2), len(code))
    else:
        v = 0b000011 if total == 0 else (((total - 1) << 2) | t1s)
        w.u(v, 6)
    if total == 0:
        return 0
    rev = list(reversed(pos))  # high-frequency first
    for i in range(t1s):
        w.u(0 if coeffs[rev[i]] > 0 else 1, 1)
    suffix_len = 1 if (total > 10 and t1s < 3) else 0
    for i in range(t1s, total):
        level = coeffs[rev[i]]
        lc = 2 * level - 2 if level > 0 else -2 * level - 1
        if i == t1s and t1s < 3:
            lc -= 2
        if lc < 0:
            # a trailing +-1 beyond the 3-cap arrives here with lc<0
            # after the -2 adjustment: the spec forbids that encoding
            raise ValueError(
                f"H264 encoder: level {level} unencodable at position "
                f"{i} (trailing-ones overflow)"
            )
        _write_level_code(w, lc, suffix_len)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    tz = pos[-1] + 1 - total  # zeros before the last nonzero
    if total < max_coeff:
        codes = _TZ_CHROMA_DC[total] if nC == -1 else _TZ_4x4[total]
        w.u(int(codes[tz], 2), len(codes[tz]))
    zeros_left = tz
    for i in range(total - 1):
        run = rev[i] - rev[i + 1] - 1
        if zeros_left > 6:
            if run < 7:
                w.u(7 - run, 3)
            else:
                w.u(0, 3)
                w.u(0, run - 7)
                w.u(1, 1)
        elif zeros_left > 0:
            code = _RUN_BEFORE[zeros_left][run]
            w.u(int(code, 2), len(code))
        elif run != 0:
            raise ValueError("H264 encoder: run without zeros left")
        zeros_left -= run
    return total

# ---------------------------------------------------------------------------
# in-loop deblocking filter (spec 8.7) — intra-only picture post-pass
# ---------------------------------------------------------------------------

_DB_ALPHA = [0] * 16 + [
    4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25, 28, 32, 36,
    40, 45, 50, 56, 63, 71, 80, 90, 101, 113, 127, 144, 162, 182, 203,
    226, 255, 255,
]
_DB_BETA = [0] * 16 + [
    2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8, 9, 9, 10, 10, 11,
    11, 12, 12, 13, 13, 14, 14, 15, 15, 16, 16, 17, 17, 18, 18,
]
# Table 8-17 t'C0 for bS 1..3 (intra pictures use 3 and 4 only, but the
# full table keeps the filter general)
_DB_TC0 = {
    1: [0] * 16 + [0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                   2, 2, 2, 2, 3, 3, 3, 4, 4, 4, 5, 6, 6, 7, 8, 9, 10,
                   11, 13],
    2: [0] * 16 + [0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2,
                   2, 2, 3, 3, 3, 4, 4, 5, 5, 6, 7, 8, 8, 10, 11, 12,
                   13, 15, 17],
    3: [0] * 16 + [0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3,
                   3, 4, 4, 4, 5, 6, 6, 7, 8, 9, 10, 11, 13, 14, 16,
                   18, 20, 23, 25],
}
for _bs, _row in _DB_TC0.items():
    if len(_row) != 52:
        raise AssertionError(f"H264 tc0 table bS={_bs}: {len(_row)} entries")
if len(_DB_ALPHA) != 52 or len(_DB_BETA) != 52:
    raise AssertionError("H264 alpha/beta tables: wrong size")


def _clip3(lo, hi, v):
    return lo if v < lo else hi if v > hi else v


def _filter_line(s, bS, alpha, beta, tc0, chroma):
    """Filter one 8-sample line [p3 p2 p1 p0 q0 q1 q2 q3] in place
    (list of ints); returns True if it filtered."""
    p3, p2, p1, p0, q0, q1, q2, q3 = s
    if not (abs(p0 - q0) < alpha and abs(p1 - p0) < beta
            and abs(q1 - q0) < beta):
        return False
    ap, aq = abs(p2 - p0), abs(q2 - q0)
    if bS < 4:
        tc = tc0
        if not chroma:
            tc += (1 if ap < beta else 0) + (1 if aq < beta else 0)
        else:
            tc += 1
        delta = _clip3(-tc, tc, (((q0 - p0) << 2) + (p1 - q1) + 4) >> 3)
        s[3] = _clip3(0, 255, p0 + delta)
        s[4] = _clip3(0, 255, q0 - delta)
        if not chroma and ap < beta:
            s[2] = p1 + _clip3(
                -tc0, tc0, (p2 + ((p0 + q0 + 1) >> 1) - (p1 << 1)) >> 1
            )
        if not chroma and aq < beta:
            s[5] = q1 + _clip3(
                -tc0, tc0, (q2 + ((p0 + q0 + 1) >> 1) - (q1 << 1)) >> 1
            )
    else:  # bS == 4
        small = abs(p0 - q0) < (alpha >> 2) + 2
        if not chroma and ap < beta and small:
            s[3] = (p2 + 2 * p1 + 2 * p0 + 2 * q0 + q1 + 4) >> 3
            s[2] = (p2 + p1 + p0 + q0 + 2) >> 2
            s[1] = (2 * p3 + 3 * p2 + p1 + p0 + q0 + 4) >> 3
        else:
            s[3] = (2 * p1 + p0 + q1 + 2) >> 2
        if not chroma and aq < beta and small:
            s[4] = (q2 + 2 * q1 + 2 * q0 + 2 * p0 + p1 + 4) >> 3
            s[5] = (q2 + q1 + q0 + p0 + 2) >> 2
            s[6] = (2 * q3 + 3 * q2 + q1 + q0 + p0 + 4) >> 3
        else:
            s[4] = (2 * q1 + q0 + p1 + 2) >> 2
    return True


def _deblock_edge(plane, x0, y0, n, vertical, bS, qpav, off_a, off_b,
                  chroma):
    """Filter one edge of ``n`` sample lines.  For a vertical edge the
    boundary is between columns x0-1|x0; lines run down rows y0..y0+n-1
    (mirrored for horizontal)."""
    idx_a = _clip3(0, 51, qpav + off_a)
    idx_b = _clip3(0, 51, qpav + off_b)
    alpha, beta = _DB_ALPHA[idx_a], _DB_BETA[idx_b]
    if alpha == 0 or beta == 0:
        return
    tc0 = _DB_TC0[bS][idx_a] if bS < 4 else 0
    for i in range(n):
        if vertical:
            y, x = y0 + i, x0
            line = [int(plane[y, x - 4 + j]) for j in range(8)]
            if _filter_line(line, bS, alpha, beta, tc0, chroma):
                for j in range(8):
                    plane[y, x - 4 + j] = line[j]
        else:
            y, x = y0, x0 + i
            line = [int(plane[y - 4 + j, x]) for j in range(8)]
            if _filter_line(line, bS, alpha, beta, tc0, chroma):
                for j in range(8):
                    plane[y - 4 + j, x] = line[j]


def _bs_pair(fr: "_Frame", px4: int, py4: int, qx4: int, qy4: int,
             mb_edge: bool) -> int:
    """Boundary strength for the edge between 4x4 blocks P and Q
    (spec 8.7.2.1, frame coding): intra -> 4 at an MB edge else 3;
    else 2 when either block carries nonzero coefficients; else 1 when
    the refs differ or an MV component differs by >= 4 quarter
    samples; else 0 (no filtering)."""
    if fr.mb_intra[py4 >> 2, px4 >> 2] or fr.mb_intra[qy4 >> 2, qx4 >> 2]:
        return 4 if mb_edge else 3
    if fr.nz_y[py4, px4] > 0 or fr.nz_y[qy4, qx4] > 0:
        return 2
    if fr.ref4[py4, px4] != fr.ref4[qy4, qx4]:
        return 1
    if (abs(int(fr.mv[py4, px4, 0]) - int(fr.mv[qy4, qx4, 0])) >= 4
            or abs(int(fr.mv[py4, px4, 1]) - int(fr.mv[qy4, qx4, 1])) >= 4):
        return 1
    return 0


def _deblock_picture(fr: "_Frame", off_a: int, off_b: int,
                     chroma_qp_offset: int) -> None:
    """Spec 8.7 post-pass: per MB in raster order, ALL vertical edges
    (left to right) then all horizontal (top to bottom), later filters
    reading earlier filters' output.  bS is derived per 4-luma-row
    edge segment by _bs_pair — all-intra pictures get the fixed 4
    (MB edge) / 3 (internal) of before; P pictures derive 2/1/0 from
    coefficients and MVs, so a P_Skip copy or a constant-MV pan is
    passed through untouched (bS 0), exactly as the spec requires.
    Chroma edges reuse the co-located luma blocks' bS (4:2:0: chroma
    sample (xc,yc) sits at luma (2xc,2yc) — 2 chroma rows per luma
    segment).  Intra prediction already consumed the UNfiltered
    samples (the filter runs after the whole picture reconstructs).
    I_PCM macroblocks carry QP 0, so alpha/beta index 0 disables
    filtering at their edges (the spec's lossless-passthrough
    property)."""
    for my in range(fr.mb_h):
        for mx in range(fr.mb_w):
            qp = int(fr.mb_qp[my, mx])
            y0, x0 = my * 16, mx * 16
            cy0, cx0 = my * 8, mx * 8
            gx4, gy4 = mx * 4, my * 4
            cq = _chroma_qp(qp, chroma_qp_offset)
            # vertical edges (left to right); e = edge in 4x4 columns
            for e in (0, 1, 2, 3):
                if e == 0:
                    if mx == 0:
                        continue
                    qpl = int(fr.mb_qp[my, mx - 1])
                    qpav = (qpl + qp + 1) >> 1
                    cqav = (_chroma_qp(qpl, chroma_qp_offset) + cq + 1) >> 1
                else:
                    qpav, cqav = qp, cq
                for seg in range(4):
                    bs = _bs_pair(fr, gx4 + e - 1, gy4 + seg,
                                  gx4 + e, gy4 + seg, e == 0)
                    if bs == 0:
                        continue
                    _deblock_edge(fr.Y, x0 + 4 * e, y0 + 4 * seg, 4,
                                  True, bs, qpav, off_a, off_b, False)
                    if e % 2 == 0:  # chroma edge at luma x offset 0/8
                        for plane in (fr.Cb, fr.Cr):
                            _deblock_edge(plane, cx0 + 2 * e,
                                          cy0 + 2 * seg, 2, True, bs,
                                          cqav, off_a, off_b, True)
            # horizontal edges (top to bottom)
            for e in (0, 1, 2, 3):
                if e == 0:
                    if my == 0:
                        continue
                    qpt = int(fr.mb_qp[my - 1, mx])
                    qpav = (qpt + qp + 1) >> 1
                    cqav = (_chroma_qp(qpt, chroma_qp_offset) + cq + 1) >> 1
                else:
                    qpav, cqav = qp, cq
                for seg in range(4):
                    bs = _bs_pair(fr, gx4 + seg, gy4 + e - 1,
                                  gx4 + seg, gy4 + e, e == 0)
                    if bs == 0:
                        continue
                    _deblock_edge(fr.Y, x0 + 4 * seg, y0 + 4 * e, 4,
                                  False, bs, qpav, off_a, off_b, False)
                    if e % 2 == 0:
                        for plane in (fr.Cb, fr.Cr):
                            _deblock_edge(plane, cx0 + 2 * seg,
                                          cy0 + 2 * e, 2, False, bs,
                                          cqav, off_a, off_b, True)
