"""REAL compressed video in MP4 (round 13): H.264 intra-only decode.

Legs: (1) container structure — box-walk bounds, sample tables,
stss-subset keyframe seek, avcC parameter sets; (2) pixel exactness —
I_PCM byte-exact for arbitrary gray frames, flat-DC Intra_16x16
integer-exact through real CAVLC at multiple QPs, cropping; (3)
codec-guard contract — corrupt boxes/bitstreams ValueError, CABAC /
P-slices / deblocking-enabled / non-avc1 refuse with
NotImplementedError at marked seams; (4) CAVLC differential fuzz —
encode_residual_block_cavlc ∘ residual_block_cavlc is the identity
over random blocks in every nC class; (5) hand-built Intra_4x4
bitstreams (DC chaining, vertical propagation from a PCM neighbor)
decoded against independent in-test arithmetic; (6) cross-modality
aHash pin vs the BMP path on identical pixels.
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from imdb_top_250_etl_pipeline_spark.operators import h264, mp4
from imdb_top_250_etl_pipeline_spark.operators.bitstream import (
    BitReader,
    BitWriter,
)
from imdb_top_250_etl_pipeline_spark.operators.h264 import (
    encode_residual_block_cavlc,
    residual_block_cavlc,
)


def _solid(h, w, v):
    return np.full((h, w), v, dtype=np.uint8)


# --- leg 1: container structure ----------------------------------------------


def test_probe_fields_and_timestamps():
    raw = mp4.mp4_encode_gray([_solid(32, 48, v) for v in (1, 2, 3)], fps=25)
    info = mp4.mp4_probe(raw)
    assert (info["width"], info["height"], info["n_samples"]) == (48, 32, 3)
    assert info["sync"] == [0, 1, 2]  # all-IDR: stss omitted => all sync
    ts = [t for _, t, _ in mp4.mp4_keyframes(raw)]
    assert ts == [0, 40, 80]


def test_stss_subset_seeks_only_keyframes():
    raw = mp4.mp4_encode_gray(
        [_solid(16, 32, 10 * i) for i in range(7)], key_every=3
    )
    info = mp4.mp4_probe(raw)
    assert info["sync"] == [0, 3, 6]
    got = [(si, int(f[0, 0, 0])) for si, _, f in mp4.mp4_decode_keyframes(raw)]
    assert got == [(0, 0), (3, 30), (6, 60)]
    assert [si for si, _, _ in mp4.mp4_keyframes(raw, every_k=2)] == [0, 6]


def test_sample_bytes_resolve_through_tables():
    raw = mp4.mp4_encode_gray([_solid(16, 16, 7), _solid(16, 16, 8)])
    info = mp4.mp4_probe(raw)
    # each sample is a 4-byte length prefix + one NALU: check framing
    for si, _, sample in mp4.mp4_keyframes(raw, info=info):
        ln = struct.unpack(">I", sample[:4])[0]
        assert ln == len(sample) - 4
        assert sample[4] & 0x1F in (1, 5)


# --- leg 2: pixel exactness ----------------------------------------------------


def test_flat_dc16_exact_all_values():
    vals = [0, 1, 7, 127, 128, 129, 200, 254, 255]
    raw = mp4.mp4_encode_gray([_solid(32, 48, v) for v in vals])
    for (_, _, f), v in zip(mp4.mp4_decode_keyframes(raw), vals):
        assert f.shape == (32, 48, 3)
        assert (f == v).all(), (v, np.unique(f))


@pytest.mark.parametrize("qp", [0, 4, 10, 12, 18, 24])
def test_flat_dc16_exact_across_qps(qp):
    vals = [3, 128, 251]
    raw = mp4.mp4_encode_gray([_solid(16, 16, v) for v in vals], qp=qp)
    for (_, _, f), v in zip(mp4.mp4_decode_keyframes(raw), vals):
        assert (f == v).all(), (qp, v, np.unique(f))


def test_pcm_gradient_byte_exact():
    g = ((np.indices((32, 48)).sum(0) * 7 + 3) % 256).astype(np.uint8)
    raw = mp4.mp4_encode_gray([g], mode="pcm")
    (_, _, f), = list(mp4.mp4_decode_keyframes(raw))
    assert (f[..., 0] == g).all() and (f[..., 2] == g).all()


def test_cropped_dims_decode_exact():
    raw = mp4.mp4_encode_gray([_solid(30, 44, 99)])
    (_, _, f), = list(mp4.mp4_decode_keyframes(raw))
    assert f.shape == (30, 44, 3) and (f == 99).all()


def test_solid_fixture_id_arithmetic():
    for doc_id in (0, 5, 11, 254):
        raw = mp4.mp4_solid_fixture(doc_id, n_frames=3)
        for si, _, f in mp4.mp4_decode_keyframes(raw):
            v = (doc_id * 17 + si * 29) % 256
            assert (f == v).all(), (doc_id, si)
            assert f.shape == (
                16 * (doc_id % 3 + 1), 16 * (doc_id % 2 + 2), 3
            )


# --- leg 3: codec-guard contract ------------------------------------------------


def test_corrupt_boxes_raise_value_error():
    raw = bytearray(mp4.mp4_encode_gray([_solid(16, 16, 1)]))
    # inflate a nested box size so it escapes its container
    pos = bytes(raw).find(b"stsz") - 4
    struct.pack_into(">I", raw, pos, len(raw))
    with pytest.raises(ValueError, match="overruns"):
        mp4.mp4_probe(bytes(raw))


def test_non_avc1_codec_refuses():
    raw = bytearray(mp4.mp4_encode_gray([_solid(16, 16, 1)]))
    # first b"avc1" hit is the ftyp compatible-brand string: patch the
    # sample entry inside stsd instead
    pos = bytes(raw).find(b"avc1", bytes(raw).find(b"stsd"))
    raw[pos : pos + 4] = b"hev1"
    with pytest.raises(NotImplementedError, match="hev1"):
        mp4.mp4_probe(bytes(raw))


def test_lying_sample_count_raises():
    raw = bytearray(mp4.mp4_encode_gray([_solid(16, 16, 1)]))
    pos = bytes(raw).find(b"stsz") + 4  # version/flags, then size, count
    struct.pack_into(">I", raw, pos + 8, 2_000_000)
    with pytest.raises(ValueError, match="lying|overruns"):
        mp4.mp4_probe(bytes(raw))


def test_cabac_pps_refuses():
    pps = h264.encode_pps(26)
    rbsp = bytearray(h264.ebsp_to_rbsp(pps[1:]))
    # pps_id=0 ue ('1'), sps_id=0 ue ('1'), then entropy flag: bit 2
    rbsp[0] |= 0b00100000
    with pytest.raises(NotImplementedError, match="CABAC"):
        h264.parse_pps(pps[:1] + bytes(rbsp))


def test_b_slice_refuses():
    # round 13b: P slices decode for real now — B still refuses loudly
    sps = h264.parse_sps(h264.encode_sps(1, 1, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(26))
    w = BitWriter()
    w.ue(0)  # first_mb
    w.ue(1)  # slice_type B
    w.ue(0)
    w.u(0, 4)
    h264._rbsp_trailing(w)
    nalu = bytes([0x41]) + h264.rbsp_to_ebsp(w.to_bytes())
    with pytest.raises(NotImplementedError, match="B/SP/SI"):
        h264.decode_i_slice(sps, pps, nalu)


def test_p_slice_without_reference_raises():
    sps = h264.parse_sps(h264.encode_sps(1, 1, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(26))
    nalu = h264.encode_p_slice(["skip"], 1, 1, 26, 1)
    with pytest.raises(ValueError, match="reference"):
        h264.decode_slice(sps, pps, nalu)


def test_invalid_deblocking_idc_raises():
    sps = h264.parse_sps(h264.encode_sps(1, 1, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(26))
    w = BitWriter()
    w.ue(0)   # first_mb
    w.ue(7)   # slice_type I
    w.ue(0)   # pps_id
    w.u(0, 4)  # frame_num
    w.ue(0)   # idr_pic_id
    w.u(0, 2)  # idr marking flags
    w.se(0)   # slice_qp_delta
    w.ue(5)   # disable_deblocking_filter_idc out of range
    h264._rbsp_trailing(w)
    nalu = bytes([0x65]) + h264.rbsp_to_ebsp(w.to_bytes())
    with pytest.raises(ValueError, match="deblocking idc"):
        h264.decode_i_slice(sps, pps, nalu)


def test_max_pixels_guard():
    w = BitWriter()
    w.u(66, 8)
    w.u(0, 8)
    w.u(30, 8)
    w.ue(0)
    w.ue(0)
    w.ue(2)
    w.ue(1)
    w.u(0, 1)
    w.ue(9999)   # pic_width_in_mbs_minus1
    w.ue(9999)
    w.u(1, 1)
    w.u(1, 1)
    w.u(0, 1)
    w.u(0, 1)
    h264._rbsp_trailing(w)
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        h264.parse_sps(bytes([0x67]) + h264.rbsp_to_ebsp(w.to_bytes()))


def test_truncated_bitstream_raises():
    raw = mp4.mp4_encode_gray([_solid(16, 16, 77)])
    info = mp4.mp4_probe(raw)
    (_, _, sample), = list(mp4.mp4_keyframes(raw, info=info))
    with pytest.raises(ValueError):
        h264.h264_decode_sample(info["sps"], info["pps"], sample[:-2])


def test_emulation_prevention_round_trip():
    for payload in (b"\x00\x00\x00\x00\x01", b"\x00\x00\x03\x00\x00\x02",
                    bytes(range(256)) * 3):
        assert h264.ebsp_to_rbsp(h264.rbsp_to_ebsp(payload)) == payload


# --- leg 4: CAVLC differential fuzz ------------------------------------------------


def test_cavlc_encode_decode_identity_fuzz():
    rng = random.Random(1337)
    for _ in range(3000):
        max_coeff = rng.choice([4, 15, 16])
        nC = -1 if max_coeff == 4 else rng.choice([0, 1, 2, 3, 5, 7, 8, 16])
        coeffs = [0] * max_coeff
        for p in rng.sample(range(max_coeff), rng.randint(0, max_coeff)):
            coeffs[p] = rng.choice([1, 1, 2, 3, 5, 17, 200, 2000]) * (
                1 if rng.random() < 0.5 else -1
            )
        w = BitWriter()
        try:
            encode_residual_block_cavlc(w, coeffs, nC)
        except ValueError:
            continue
        w.u(1, 1)
        w.u(0, 7)
        got, _ = residual_block_cavlc(BitReader(w.to_bytes()), max_coeff, nC)
        assert got == coeffs, (nC, coeffs, got)


def test_cavlc_known_block_hand_vector():
    """Single-coefficient DC block, nC=0 — the flat-DC fixture's block,
    hand-assembled bit by bit (coeff_token '000101', levelCode path,
    total_zeros '1')."""
    w = BitWriter()
    w.u(0b000101, 6)  # TC=1, T1=0
    # level +5 -> levelCode 2*5-2=8, minus 2 (first after T1s<3) = 6:
    # six zeros then a 1 at suffixLength 0
    w.u(0b0000001, 7)
    w.u(0b1, 1)  # total_zeros = 0
    w.u(1, 1)
    w.u(0, 6)
    got, total = residual_block_cavlc(BitReader(w.to_bytes()), 16, 0)
    assert total == 1 and got[0] == 5 and sum(map(abs, got)) == 5


# --- leg 5: hand-built Intra_4x4 bitstreams ----------------------------------------


def _mk_slice(body_fn) -> tuple[dict, dict, bytes]:
    sps = h264.parse_sps(h264.encode_sps(1, 1, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(12))
    w = BitWriter()
    h264._write_slice_header(w, True)
    body_fn(w)
    h264._rbsp_trailing(w)
    return sps, pps, bytes([0x65]) + h264.rbsp_to_ebsp(w.to_bytes())


def test_intra4x4_all_dc_flat():
    """One I_NxN macroblock, every block DC-predicted with zero
    residual: no neighbors anywhere -> every 4x4 predicts 128."""

    def body(w):
        w.ue(0)  # mb_type I_NxN
        for _ in range(16):
            w.u(1, 1)  # prev_intra4x4_pred_mode_flag (use predicted=DC)
        w.ue(0)  # chroma DC
        w.ue(3)  # cbp code 3 -> cbp 0 (intra mapping table)
        # cbp 0 -> no mb_qp_delta, no residuals

    sps, pps, nalu = _mk_slice(body)
    f = h264.decode_i_slice(sps, pps, nalu)
    assert f.shape == (16, 16, 3) and (f == 128).all()


def test_intra4x4_dc_chain_with_residual():
    """I_NxN with one luma coefficient in block 0 (quadrant cbp bit 0):
    reconstruction re-derived independently below by chaining DC
    predictions through the z-order — pins prediction availability,
    the intra CBP mapping, dequant and the inverse transform."""

    def body(w):
        w.ue(0)
        for _ in range(16):
            w.u(1, 1)
        w.ue(0)  # chroma DC
        # cbp luma bit0 only (cbp=1): intra mapping index of 1 is 29
        w.ue(29)
        w.se(0)  # mb_qp_delta
        # quadrant 0 = blocks 0..3; block 0 carries coeff +4 at DC
        coeffs = [0] * 16
        coeffs[0] = 4
        encode_residual_block_cavlc(w, coeffs, 0)
        for _ in range(3):
            encode_residual_block_cavlc(w, [0] * 16, 0)
        # chroma: cbp_chroma 0 -> nothing

    sps, pps, nalu = _mk_slice(body)
    f = h264.decode_i_slice(sps, pps, nalu)[:, :, 0].astype(int)
    # independent re-derivation: qp 12 -> dequant 4*10<<2... (spec:
    # d = c*V[qp%6]<<(qp//6) = 4*10<<2 = 160; idct DC-only residual =
    # (160+32)>>6 = 3).  Blocks reconstruct in z-order with DC chaining.
    recon = np.zeros((16, 16), dtype=int)
    done = np.zeros((4, 4), dtype=bool)
    for idx in range(16):
        bx, by = h264._BLK4_POS[idx]
        top = recon[by * 4 - 1, bx * 4 : bx * 4 + 4] if by > 0 and done[by - 1, bx] else None
        left = recon[by * 4 : by * 4 + 4, bx * 4 - 1] if bx > 0 and done[by, bx - 1] else None
        if top is not None and left is not None:
            dc = (int(top.sum()) + int(left.sum()) + 4) >> 3
        elif left is not None:
            dc = (int(left.sum()) + 2) >> 2
        elif top is not None:
            dc = (int(top.sum()) + 2) >> 2
        else:
            dc = 128
        res = 3 if idx == 0 else 0
        recon[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = dc + res
        done[by, bx] = True
    assert (f == recon).all(), (f[:4, :8], recon[:4, :8])


def test_intra4x4_vertical_from_pcm_neighbor():
    """Two MBs stacked: top MB is I_PCM with a column gradient in its
    bottom row; bottom MB is I_NxN all-vertical — each column must
    replicate the PCM row exactly (pins cross-MB sample availability
    and mode prediction against a non-I4x4 neighbor)."""
    pcm_block = np.zeros((16, 16), dtype=np.uint8)
    pcm_block[15, :] = np.arange(16, dtype=np.uint8) * 13 + 7

    def body(w):
        # MB 0: I_PCM
        w.ue(25)
        w.align()
        for yy in range(16):
            for xx in range(16):
                w.u(int(pcm_block[yy, xx]), 8)
        for _ in range(128):
            w.u(128, 8)
        # MB 1: I_NxN all-vertical (mode 0)
        w.ue(0)
        for idx in range(16):
            bx, by = h264._BLK4_POS[idx]
            # predicted mode: min(modeA, modeB); left unavailable for
            # bx==0 -> pred 2; PCM top neighbor counts as 2; in-MB
            # neighbors already vertical (0) -> pred 0
            if bx == 0 and by == 0:
                pred = 2  # left edge, top is PCM (2): min -> 2
            elif bx == 0:
                pred = 2  # left unavailable -> forced DC prediction
            elif by == 0:
                pred = 0  # left in-MB vertical(0), top PCM(2)
            else:
                pred = 0
            if pred == 0:
                w.u(1, 1)  # use predicted (vertical)
            else:
                w.u(0, 1)
                w.u(0, 3)  # rem 0 < pred 2 -> mode 0
        w.ue(0)  # chroma DC
        w.ue(3)  # cbp 0

    sps = h264.parse_sps(h264.encode_sps(1, 2, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(12))
    w = BitWriter()
    h264._write_slice_header(w, True)
    body(w)
    h264._rbsp_trailing(w)
    nalu = bytes([0x65]) + h264.rbsp_to_ebsp(w.to_bytes())
    f = h264.decode_i_slice(sps, pps, nalu)[:, :, 0]
    assert (f[:16, :] == pcm_block).all()
    assert (f[16:, :] == np.tile(pcm_block[15, :], (16, 1))).all()


# --- leg 6: cross-modality pixel pin ------------------------------------------------


def test_solid_frame_matches_bmp_pixels():
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        MAX_PIXELS,  # noqa: F401  (import proves the guard wiring)
    )

    raw = mp4.mp4_encode_gray([_solid(32, 32, 173)])
    (_, _, f), = list(mp4.mp4_decode_keyframes(raw))
    # identical pixels through the lossless path: a solid 173 BMP/PCM
    # plane — the H.264 flat-DC reconstruction must agree exactly
    assert (f == np.full((32, 32, 3), 173, dtype=np.uint8)).all()


# --- leg 7: Spark-side seam integration ------------------------------------------


def test_spark_mp4_stats_id_arithmetic(spark):
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        mp4_frame_stats,
        synthesize_mp4_blobs,
    )

    docs = spark.range(0, 60).selectExpr("id * 10 as doc_id")
    got = mp4_frame_stats(
        synthesize_mp4_blobs(docs, "doc_id"), every_k=2
    ).collect()
    assert got, "no keyframes sampled"
    for r in got:
        i = r.doc_id
        ke = i % 3 + 1
        assert r.width == ((i % 24 + 16) // 2) * 2
        assert r.height == ((i % 20 + 12) // 2) * 2
        v = (i + 13 * r.frame_idx) % 256
        assert r.y_min == v == r.y_max
        assert r.y_sum == v * r.width * r.height
        # sampled frames are every 2nd SYNC sample: fi = p*ke, p even
        assert r.frame_idx % ke == 0 and (r.frame_idx // ke) % 2 == 0
        assert r.frame_idx < i % 12 + 4
        assert r.ts_ms == r.frame_idx * (1000 // (i % 10 + 5))


def test_spark_sample_frames_mp4_branch(spark):
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        sample_frames,
        synthesize_mp4_blobs,
    )

    docs = spark.range(0, 30).selectExpr("id * 10 as doc_id")
    rows = sample_frames(
        synthesize_mp4_blobs(docs, "doc_id"), every_k=2
    ).collect()
    assert rows
    for r in rows:
        ke = r.doc_id % 3 + 1
        assert r.frame_idx % ke == 0 and (r.frame_idx // ke) % 2 == 0
        assert r.ts_ms == r.frame_idx * (1000 // (r.doc_id % 10 + 5))


def test_spark_frame_ahash_mp4_branch(spark):
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        synthesize_mp4_blobs,
        y4m_frame_ahash,
    )

    docs = spark.range(1, 8).selectExpr("id * 10 as doc_id")
    rows = y4m_frame_ahash(
        synthesize_mp4_blobs(docs, "doc_id"), every_k=2
    ).collect()
    assert rows
    # solid frames: every cell mean EQUALS the global mean -> all bits
    for r in rows:
        assert (r.b0, r.b1, r.b2, r.b3) == (65535,) * 4, r


def test_spark_frame_ahash_cross_container_pin(spark):
    """The SAME solid pixels hash identically from MJPEG-AVI and
    H.264-MP4 — frame near-dup spans containers (round-13 'done'
    criterion: keyframe aHash pairs with the same-pixel path)."""
    import pandas as pd

    from imdb_top_250_etl_pipeline_spark.operators.avi import avi_encode
    from imdb_top_250_etl_pipeline_spark.operators.mp4 import mp4_encode_gray
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        y4m_frame_ahash,
    )

    frames = [_solid(32, 32, 173), _solid(32, 32, 40)]
    blobs = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "blob": [
                avi_encode(frames, rate=10, quality=100),
                mp4_encode_gray(frames, fps=10),
            ],
        }
    )
    df = spark.createDataFrame(blobs)
    rows = y4m_frame_ahash(df, every_k=1).collect()
    by = {(r.doc_id, r.frame_idx): (r.b0, r.b1, r.b2, r.b3) for r in rows}
    assert by[(1, 0)] == by[(2, 0)]
    assert by[(1, 1)] == by[(2, 1)]


# --- leg 8: solid-color (chroma DC) path -------------------------------------------


def _expected_rgb(y, cb, cr):
    r = np.clip(np.round(y + 1.402 * (cr - 128.0)), 0, 255)
    g = np.clip(
        np.round(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)),
        0, 255,
    )
    b = np.clip(np.round(y + 1.772 * (cb - 128.0)), 0, 255)
    return np.array([r, g, b], dtype=np.uint8)


def test_solid_color_frames_exact_through_chroma_dc():
    """Solid YCbCr frames carry one luma-DC AND one chroma-DC CAVLC
    coefficient per plane (the nC==-1 table) in MB(0,0); every plane
    reconstructs integer-exactly and the RGB output equals the
    decoder's deterministic BT.601 conversion — the chroma half of the
    flat-DC oracle discipline."""
    triples = [(128, 128, 128), (50, 200, 30), (255, 0, 255),
               (7, 77, 177), (128, 90, 128), (200, 128, 60)]
    sps_b, pps_b, samples, _ = h264.h264_encode_solid_ycbcr_frames(
        triples, 48, 32
    )
    sps, pps = h264.parse_sps(sps_b), h264.parse_pps(pps_b)
    for (y, cb, cr), s in zip(triples, samples):
        dec = h264.h264_decode_sample(sps, pps, s)
        assert dec.shape == (32, 48, 3)
        assert (dec == _expected_rgb(y, cb, cr).reshape(1, 1, 3)).all(), (
            (y, cb, cr), dec[0, 0]
        )


@pytest.mark.parametrize("qp", [0, 6, 12, 20, 24])
def test_solid_color_exact_across_qps(qp):
    sps_b, pps_b, samples, _ = h264.h264_encode_solid_ycbcr_frames(
        [(90, 60, 190)], 16, 16, qp=qp
    )
    sps, pps = h264.parse_sps(sps_b), h264.parse_pps(pps_b)
    dec = h264.h264_decode_sample(sps, pps, samples[0])
    assert (dec == _expected_rgb(90, 60, 190).reshape(1, 1, 3)).all(), qp


# --- leg 9: in-loop deblocking filter (round 13) ------------------------------------


def _two_value_slice(a, b, qp, deblocking):
    """Hand-built 2x1-MB picture: MB0 solid ``a`` (DC coeff), MB1 solid
    ``b`` (DC coeff over the left-neighbor prediction ``a``)."""
    w = BitWriter()
    h264._write_slice_header(w, True, deblocking=deblocking)
    w.ue(3)
    w.ue(0)
    w.se(0)
    dc = h264._flat_dc_coeff(a - 128, qp)
    encode_residual_block_cavlc(w, [dc] + [0] * 15, 0)
    w.ue(3)
    w.ue(0)
    w.se(0)
    dc = h264._flat_dc_coeff(b - a, qp)
    encode_residual_block_cavlc(w, [dc] + [0] * 15, 0)
    h264._rbsp_trailing(w)
    return bytes([0x65]) + h264.rbsp_to_ebsp(w.to_bytes())


def _decode_two_value(a, b, qp, deblocking):
    sps = h264.parse_sps(h264.encode_sps(2, 1, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(qp))
    return h264.decode_i_slice(
        sps, pps, _two_value_slice(a, b, qp, deblocking)
    )[:, :, 0].astype(int)


def test_deblocking_solid_pictures_invariant():
    """A flat picture is a fixed point of the filter (all formulas
    average equal samples) — deblocking on and off agree exactly."""
    for v in (0, 77, 128, 255):
        raw_off = mp4.mp4_encode_gray([_solid(32, 48, v)])
        f_off, = [f for _, _, f in mp4.mp4_decode_keyframes(raw_off)]
        sps = h264.parse_sps(h264.encode_sps(3, 2, 0, 0))
        pps = h264.parse_pps(h264.encode_pps(12))
        nalu = h264.encode_flat_i16_slice(v, 3, 2, 12, deblocking=True)
        f_on = h264.decode_i_slice(sps, pps, nalu)
        assert (f_on == v).all() and (f_off == v).all()


def test_deblocking_weak_filter_hand_vector():
    """A=100 | B=110 at qp 24: alpha=12, beta=4, |p0-q0|=10 < 12 but
    >= (alpha>>2)+2=5, so the bS=4 WEAK path fires: only p0/q0 move —
    p0' = (2*100+100+110+2)>>2 = 103, q0' = (2*110+110+100+2)>>2 = 108
    (hand arithmetic, spec 8.7.2.4)."""
    f = _decode_two_value(100, 110, 24, deblocking=True)
    assert (f[:, :15] == 100).all()
    assert (f[:, 15] == 103).all()
    assert (f[:, 16] == 108).all()
    assert (f[:, 17:] == 110).all()
    # and without the filter, the step is untouched
    f0 = _decode_two_value(100, 110, 24, deblocking=False)
    assert (f0[:, :16] == 100).all() and (f0[:, 16:] == 110).all()


def test_deblocking_strong_filter_hand_vector():
    """A=100 | B=103 at qp 24: |p0-q0|=3 < 5 and ap=aq=0 < beta, so the
    bS=4 STRONG 3-tap path fires on both sides — expected columns
    13..18 = 100,101,101 | 102,102,103 (hand arithmetic)."""
    f = _decode_two_value(100, 103, 24, deblocking=True)
    assert (f[:, :13] == 100).all()
    assert (f[:, 13] == 100).all()  # p2' = 807>>3
    assert (f[:, 14] == 101).all()  # p1' = 405>>2
    assert (f[:, 15] == 101).all()  # p0' = 813>>3
    assert (f[:, 16] == 102).all()  # q0' = 819>>3
    assert (f[:, 17] == 102).all()  # q1' = 411>>2
    # q2' = 825>>3 = 103 at the MB edge — but the spec's edge ORDER
    # then runs MB1's internal x=20 edge over the partially-filtered
    # samples: there p2=102, p1=103 give the bS=3 p1 update
    # 103 + clip(+-1, (102 + 103 - 206)>>1) = 102.  Both stages are
    # hand arithmetic; the cascade pins the vertical edge ordering.
    assert (f[:, 18] == 102).all()
    assert (f[:, 19:] == 103).all()


def test_deblocking_pcm_edges_untouched():
    """I_PCM macroblocks carry QP 0 -> alpha index 0 -> no filtering at
    their edges: a PCM gradient survives deblocking byte-exactly."""
    g = ((np.indices((16, 32)).sum(0) * 9 + 1) % 256).astype(np.uint8)
    sps = h264.parse_sps(h264.encode_sps(2, 1, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(12))
    nalu = h264.encode_pcm_slice(g, deblocking=True)
    f = h264.decode_i_slice(sps, pps, nalu)
    assert (f[:, :, 0] == g).all()


def test_chroma_ac_parse_order_cbp2():
    """CodedBlockPatternChroma == 2 (round-13 review fix): the spec
    orders BOTH chroma DC blocks before ANY chroma AC block.  This MB
    carries an empty Cb DC, a nonzero Cr DC, and a nonzero Cb AC block
    — under the old per-component interleave the Cr DC bits would be
    parsed as Cb AC and the stream desyncs."""
    import numpy as np

    qp = 12
    qpc = h264._chroma_qp(qp, 0)
    cr_dc = h264._flat_chroma_dc_coeff(3, qpc)  # Cr = 131 everywhere

    def body(w):
        w.ue(11)  # I_16x16: pred DC(2), cbp_chroma 2, cbp_luma 0
        w.ue(0)   # chroma pred DC
        w.se(0)   # mb_qp_delta
        encode_residual_block_cavlc(w, [0] * 16, 0)  # luma DC (16 coeffs)
        encode_residual_block_cavlc(w, [0] * 4, -1)  # Cb DC (empty)
        encode_residual_block_cavlc(w, [cr_dc, 0, 0, 0], -1)  # Cr DC
        # EIGHT chroma AC blocks: Cb's four then Cr's four
        cb_ac0 = [0] * 15
        cb_ac0[0] = 6  # zigzag position 1 -> block (0, 1)
        h264.encode_residual_block_cavlc(w, cb_ac0, 0)
        h264.encode_residual_block_cavlc(w, [0] * 15, 1)  # nC from blk0
        h264.encode_residual_block_cavlc(w, [0] * 15, 0)
        h264.encode_residual_block_cavlc(w, [0] * 15, 0)
        for _ in range(4):  # Cr AC
            h264.encode_residual_block_cavlc(w, [0] * 15, 0)

    sps = h264.parse_sps(h264.encode_sps(1, 1, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(qp))
    w = BitWriter()
    h264._write_slice_header(w, True)
    body(w)
    h264._rbsp_trailing(w)
    nalu = bytes([0x65]) + h264.rbsp_to_ebsp(w.to_bytes())
    f = h264.decode_i_slice(sps, pps, nalu)

    # expected planes re-derived through the module's transform prims
    # (the thing under test is the PARSE ORDER; transform math is
    # pinned by the other hand vectors)
    ac = np.zeros((4, 4), dtype=np.int64)
    ac[0, 1] = 6
    cb_blk0 = np.clip(
        128 + h264._itransform4(h264._dequant4(ac, qpc)), 0, 255
    )
    cb_plane = np.full((8, 8), 128, dtype=np.int64)
    cb_plane[:4, :4] = cb_blk0
    cr_plane = np.full((8, 8), 131, dtype=np.int64)
    y_plane = np.full((16, 16), 128, dtype=np.int64)
    cbu = np.repeat(np.repeat(cb_plane, 2, 0), 2, 1).astype(np.float64)
    cru = np.repeat(np.repeat(cr_plane, 2, 0), 2, 1).astype(np.float64)
    r = np.clip(np.round(y_plane + 1.402 * (cru - 128.0)), 0, 255)
    g = np.clip(np.round(
        y_plane - 0.344136 * (cbu - 128.0) - 0.714136 * (cru - 128.0)
    ), 0, 255)
    b = np.clip(np.round(y_plane + 1.772 * (cbu - 128.0)), 0, 255)
    exp = np.stack([r, g, b], axis=-1).astype(np.uint8)
    assert (f == exp).all(), (f[0, :4], exp[0, :4])
