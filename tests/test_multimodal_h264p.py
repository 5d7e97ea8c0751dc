"""H.264 P-slice decode (round 13b): inter prediction for real.

Legs: (1) motion-compensation exactness — the vectorized quarter-pel
luma / eighth-pel chroma interpolators vs an INDEPENDENT per-pixel
spec 8.4.2.2 dual over random references, every fractional position,
including edge clamping; (2) end-to-end bitstream — I_PCM gradient
reference + P frames with every partition shape (16x16/16x8/8x16/8x8
with 8x4/4x8/4x4 subs) and random MVs decode pixel-identical to the
dual; (3) MV prediction — hand-derived spec 8.4.1.3 vectors (median,
one-matching-ref, 16x8/8x16 directional rules, D fallback, first-MB
and first-row cases) checked directly against _mvp, plus the P_Skip
zero conditions of 8.4.1.1; (4) deblocking bS — spec 8.7.2.1 derived
per 4x4 segment (intra 4/3, coefficients 2, MV-delta 1, equal 0)
checked directly and via pixel-exact pass-through of P_Skip copies
with the filter ON; (5) GOP semantics through MP4 — IDR/skip/flat-
delta/pan sequences decode to exact id-arithmetic values via the
sequential path while the stss keyframe seek still returns only IDRs;
(6) codec-guard contract — B slices, MMCO, multi-reference, list
modification, weighted prediction refuse loudly; structural overruns
(skip-run past picture end, early slice end) raise ValueError.
"""

from __future__ import annotations

import numpy as np
import pytest

from imdb_top_250_etl_pipeline_spark.operators import h264, mp4
from imdb_top_250_etl_pipeline_spark.operators.bitstream import BitWriter
from imdb_top_250_etl_pipeline_spark.operators.h264 import (
    _Frame,
    _mc_chroma,
    _mc_luma,
    _mvp,
    _p_partitions,
    _skip_mv,
    _P_MB_TYPE,
)


# --- independent per-pixel spec dual ----------------------------------------


def _cl(v, lo, hi):
    return max(lo, min(hi, v))


def dual_mc_luma(ref, x0, y0, w, h, mvx, mvy):
    """Spec 8.4.2.2.1 written as literal per-sample formulas (slow)."""
    H, W = ref.shape

    def F(x, y):
        return int(ref[_cl(y, 0, H - 1), _cl(x, 0, W - 1)])

    def b1(x, y):
        return (F(x - 2, y) - 5 * F(x - 1, y) + 20 * F(x, y)
                + 20 * F(x + 1, y) - 5 * F(x + 2, y) + F(x + 3, y))

    def h1(x, y):
        return (F(x, y - 2) - 5 * F(x, y - 1) + 20 * F(x, y)
                + 20 * F(x, y + 1) - 5 * F(x, y + 2) + F(x, y + 3))

    def bb(x, y):
        return _cl((b1(x, y) + 16) >> 5, 0, 255)

    def hh(x, y):
        return _cl((h1(x, y) + 16) >> 5, 0, 255)

    def jj(x, y):
        j1 = (b1(x, y - 2) - 5 * b1(x, y - 1) + 20 * b1(x, y)
              + 20 * b1(x, y + 1) - 5 * b1(x, y + 2) + b1(x, y + 3))
        return _cl((j1 + 512) >> 10, 0, 255)

    xi, yi = x0 + (mvx >> 2), y0 + (mvy >> 2)
    fx, fy = mvx & 3, mvy & 3
    out = np.zeros((h, w), dtype=np.int64)
    for oy in range(h):
        for ox in range(w):
            x, y = xi + ox, yi + oy
            G, Hp, M = F(x, y), F(x + 1, y), F(x, y + 1)
            b, hp = bb(x, y), hh(x, y)
            m, s, j = hh(x + 1, y), bb(x, y + 1), jj(x, y)

            def av(p, q):
                return (p + q + 1) >> 1

            out[oy, ox] = {
                (0, 0): G, (1, 0): av(G, b), (2, 0): b, (3, 0): av(b, Hp),
                (0, 1): av(G, hp), (1, 1): av(b, hp), (2, 1): av(b, j),
                (3, 1): av(b, m),
                (0, 2): hp, (1, 2): av(hp, j), (2, 2): j, (3, 2): av(j, m),
                (0, 3): av(hp, M), (1, 3): av(hp, s), (2, 3): av(j, s),
                (3, 3): av(m, s),
            }[(fx, fy)]
    return out


def dual_mc_chroma(ref, x0, y0, w, h, mvx, mvy):
    H, W = ref.shape

    def F(x, y):
        return int(ref[_cl(y, 0, H - 1), _cl(x, 0, W - 1)])

    xi, yi = x0 + (mvx >> 3), y0 + (mvy >> 3)
    fx, fy = mvx & 7, mvy & 7
    out = np.zeros((h, w), dtype=np.int64)
    for oy in range(h):
        for ox in range(w):
            x, y = xi + ox, yi + oy
            out[oy, ox] = (
                (8 - fx) * (8 - fy) * F(x, y) + fx * (8 - fy) * F(x + 1, y)
                + (8 - fx) * fy * F(x, y + 1) + fx * fy * F(x + 1, y + 1)
                + 32
            ) >> 6
    return out


# --- leg 1: interpolator vs dual --------------------------------------------


@pytest.mark.parametrize("fy", range(4))
@pytest.mark.parametrize("fx", range(4))
def test_mc_luma_matches_dual_every_fraction(fx, fy):
    rng = np.random.default_rng(100 * fx + fy)
    ref = rng.integers(0, 256, (40, 56)).astype(np.int64)
    for _ in range(3):
        dx, dy = int(rng.integers(-30, 30)), int(rng.integers(-30, 30))
        mvx, mvy = dx * 4 + fx, dy * 4 + fy
        x0, y0 = int(rng.integers(0, 40)), int(rng.integers(0, 24))
        got = _mc_luma(ref, x0, y0, 16, 16, mvx, mvy)
        exp = dual_mc_luma(ref, x0, y0, 16, 16, mvx, mvy)
        assert np.array_equal(got, exp), (fx, fy, x0, y0, mvx, mvy)


def test_mc_luma_edge_clamping():
    # MVs that read far outside the picture: clamped replication
    rng = np.random.default_rng(3)
    ref = rng.integers(0, 256, (32, 32)).astype(np.int64)
    for mvx, mvy in [(-200, -200), (150, 7), (-3, 141), (130, -130)]:
        got = _mc_luma(ref, 0, 0, 16, 16, mvx, mvy)
        exp = dual_mc_luma(ref, 0, 0, 16, 16, mvx, mvy)
        assert np.array_equal(got, exp), (mvx, mvy)


def test_mc_chroma_matches_dual():
    rng = np.random.default_rng(5)
    ref = rng.integers(0, 256, (20, 28)).astype(np.int64)
    for _ in range(48):
        mvx, mvy = int(rng.integers(-90, 90)), int(rng.integers(-90, 90))
        x0, y0 = int(rng.integers(0, 20)), int(rng.integers(0, 12))
        got = _mc_chroma(ref, x0, y0, 8, 8, mvx, mvy)
        exp = dual_mc_chroma(ref, x0, y0, 8, 8, mvx, mvy)
        assert np.array_equal(got, exp), (x0, y0, mvx, mvy)


def test_mc_on_solid_is_identity_all_fractions():
    ref = np.full((32, 48), 177, dtype=np.int64)
    refc = np.full((16, 24), 91, dtype=np.int64)
    for fy in range(4):
        for fx in range(4):
            assert np.all(_mc_luma(ref, 4, 4, 16, 16, fx - 8, fy + 4) == 177)
    for fy in range(8):
        for fx in range(8):
            assert np.all(_mc_chroma(refc, 2, 2, 8, 8, fx - 16, fy + 8) == 91)


# --- helpers for bitstream tests --------------------------------------------


def _ctx(mb_w, mb_h, qp):
    sps = h264.parse_sps(h264.encode_sps(mb_w, mb_h, 0, 0))
    pps = h264.parse_pps(h264.encode_pps(qp))
    return sps, pps


def _pcm_ref(sps, pps, gray):
    nalu = h264.encode_pcm_slice(np.asarray(gray, dtype=np.uint8))
    _, planes = h264.decode_slice(sps, pps, nalu)
    return planes


# --- leg 2: end-to-end partitions vs dual ------------------------------------


def test_p_frame_all_partition_shapes_exact():
    rng = np.random.default_rng(11)
    W, H = 48, 32
    mb_w, mb_h = W // 16, H // 16
    sps, pps = _ctx(mb_w, mb_h, 20)
    gray = rng.integers(20, 236, (H, W)).astype(np.uint8)
    ref = _pcm_ref(sps, pps, gray)
    assert np.array_equal(ref[0], gray.astype(np.int64))

    def rand_mv():
        return (int(rng.integers(-20, 20)), int(rng.integers(-20, 20)))

    shapes = ["16x16", "16x8", "8x16", "8x8", "16x16", "8x8"]
    mbs = []
    for i in range(mb_w * mb_h):
        shp = shapes[i % len(shapes)]
        if shp == "16x16":
            mbs.append({"mv": rand_mv()})
        elif shp in ("16x8", "8x16"):
            mbs.append({"parts": shp, "mvs": [rand_mv(), rand_mv()]})
        else:
            subs = [int(rng.integers(0, 4)) for _ in range(4)]
            n = sum({0: 1, 1: 2, 2: 2, 3: 4}[s] for s in subs)
            mbs.append({"parts": "8x8", "subs": subs,
                        "mvs": [rand_mv() for _ in range(n)]})
    pnal = h264.encode_p_slice(mbs, mb_w, mb_h, 20, 1, deblocking=False)
    _, planes = h264.decode_slice(sps, pps, pnal, ref)

    exp = np.zeros((H, W), np.int64)
    expc = {0: np.zeros((H // 2, W // 2), np.int64),
            1: np.zeros((H // 2, W // 2), np.int64)}
    for i, spec in enumerate(mbs):
        my, mx = divmod(i, mb_w)
        mt = _P_MB_TYPE[spec.get("parts", "16x16")]
        plist = list(_p_partitions(mt, spec.get("subs")))
        mvs = spec["mvs"] if "mvs" in spec else [spec["mv"]]
        for (kind, bx4, by4, w4, h4), (mvx, mvy) in zip(plist, mvs):
            x0, y0 = mx * 16 + bx4 * 4, my * 16 + by4 * 4
            exp[y0:y0 + h4 * 4, x0:x0 + w4 * 4] = dual_mc_luma(
                ref[0], x0, y0, w4 * 4, h4 * 4, mvx, mvy)
            cx0, cy0 = mx * 8 + bx4 * 2, my * 8 + by4 * 2
            for ci, plane in ((0, ref[1]), (1, ref[2])):
                expc[ci][cy0:cy0 + h4 * 2, cx0:cx0 + w4 * 2] = (
                    dual_mc_chroma(plane, cx0, cy0, w4 * 2, h4 * 2,
                                   mvx, mvy))
    assert np.array_equal(planes[0], exp)
    assert np.array_equal(planes[1], expc[0])
    assert np.array_equal(planes[2], expc[1])


def test_p_skip_is_exact_copy_with_deblocking_on():
    rng = np.random.default_rng(13)
    sps, pps = _ctx(3, 2, 24)
    gray = rng.integers(0, 256, (32, 48)).astype(np.uint8)
    ref = _pcm_ref(sps, pps, gray)
    nalu = h264.encode_p_slice(["skip"] * 6, 3, 2, 24, 1, deblocking=True)
    _, planes = h264.decode_slice(sps, pps, nalu, ref)
    # all-skip: every MV 0, no coefficients -> bS 0 everywhere -> the
    # deblocking filter must not touch a single sample
    assert np.array_equal(planes[0], ref[0])
    assert np.array_equal(planes[1], ref[1])
    assert np.array_equal(planes[2], ref[2])


def test_flat_delta_on_gradient_adds_exactly():
    rng = np.random.default_rng(17)
    # qp 16 is the exactness boundary of the inter DC path (step 64/64)
    sps, pps = _ctx(3, 2, 16)
    gray = rng.integers(0, 256, (32, 48)).astype(np.uint8)
    ref = _pcm_ref(sps, pps, gray)
    for d in (-9, -1, 1, 12):
        nalu = h264.encode_p_slice(
            [{"mv": (0, 0), "dy": d}] * 6, 3, 2, 16, 1)
        _, planes = h264.decode_slice(sps, pps, nalu, ref)
        assert np.array_equal(planes[0], np.clip(ref[0] + d, 0, 255)), d


def test_flat_chroma_delta_on_p_frame():
    sps, pps = _ctx(2, 1, 12)
    ref = _pcm_ref(sps, pps, np.full((16, 32), 100, np.uint8))
    nalu = h264.encode_p_slice(
        [{"mv": (0, 0), "dcb": 11, "dcr": -7}] * 2, 2, 1, 12, 1)
    _, planes = h264.decode_slice(sps, pps, nalu, ref)
    assert np.all(planes[0] == 100)
    assert np.all(planes[1] == 139)  # 128 + 11
    assert np.all(planes[2] == 121)  # 128 - 7


def test_p_frame_chains_reference_previous_p():
    # IDR -> P(+3) -> P(+3): second P must predict from the FIRST P
    sps, pps = _ctx(2, 2, 12)
    ref = _pcm_ref(sps, pps, np.full((32, 32), 50, np.uint8))
    p1 = h264.encode_p_slice([{"mv": (0, 0), "dy": 3}] * 4, 2, 2, 12, 1)
    _, ref1 = h264.decode_slice(sps, pps, p1, ref)
    p2 = h264.encode_p_slice([{"mv": (0, 0), "dy": 3}] * 4, 2, 2, 12, 2)
    _, ref2 = h264.decode_slice(sps, pps, p2, ref1)
    assert np.all(ref1[0] == 53)
    assert np.all(ref2[0] == 56)


def test_intra_mb_inside_p_slice_via_gop():
    # a P picture whose MBs are all coded (not skip) following an IDR,
    # then an IDR again: the sequential MP4 decoder must track
    # references across the mid-stream IDR
    raw = mp4.mp4_encode_pgop(
        [("idr", 70), ("pdelta", 6), ("idr", 200), ("skip",)], 32, 32)
    vals = [int(f[0, 0, 0]) for *_, f in mp4.mp4_decode_all(raw)]
    assert vals == [70, 76, 200, 200]


# --- leg 3: MV prediction hand vectors ---------------------------------------


def _mini_frame(mb_w=4, mb_h=4):
    return _Frame({"mb_w": mb_w, "mb_h": mb_h})


def _put(fr, bx, by, ref, mv):
    fr.ref4[by, bx] = ref
    fr.mv[by, bx] = mv
    fr.dec4[by, bx] = True


def test_mvp_first_mb_is_zero():
    fr = _mini_frame()
    assert _mvp(fr, 0, 0, 4, 4, "16x16") == (0, 0)


def test_mvp_first_row_uses_left_neighbor():
    # B, C, D all outside the picture, A available -> mvp = mvA
    fr = _mini_frame()
    for by in range(4):
        _put(fr, 3, by, 0, (12, -8))
    assert _mvp(fr, 4, 0, 4, 4, "16x16") == (12, -8)


def test_mvp_median_of_three():
    fr = _mini_frame()
    _put(fr, 3, 4, 0, (1, 20))   # A
    _put(fr, 4, 3, 0, (5, 2))    # B
    _put(fr, 8, 3, 0, (3, 11))   # C
    assert _mvp(fr, 4, 4, 4, 4, "16x16") == (3, 11)


def test_mvp_single_matching_ref_overrides_median():
    # A and C intra (ref -1): only B matches ref 0 -> mvp = mvB even
    # though the median of (0, mvB, 0) would differ
    fr = _mini_frame()
    _put(fr, 3, 4, -1, (0, 0))   # A intra
    _put(fr, 4, 3, 0, (9, 7))    # B inter
    _put(fr, 8, 3, -1, (0, 0))   # C intra
    assert _mvp(fr, 4, 4, 4, 4, "16x16") == (9, 7)


def test_mvp_c_unavailable_falls_back_to_d():
    fr = _mini_frame()
    _put(fr, 3, 4, 0, (2, 2))    # A
    _put(fr, 4, 3, 0, (6, 6))    # B
    _put(fr, 3, 3, 0, (4, 4))    # D (C at (8,3) not decoded)
    assert _mvp(fr, 4, 4, 4, 4, "16x16") == (4, 4)


def test_mvp_16x8_directional_rules():
    fr = _mini_frame()
    _put(fr, 3, 4, 0, (2, 3))    # A of top partition
    _put(fr, 4, 3, 0, (30, 40))  # B
    _put(fr, 8, 3, 0, (1, 1))    # C
    # top 16x8: B matches ref 0 -> mvB outright (not the median)
    assert _mvp(fr, 4, 4, 4, 2, "16x8_0") == (30, 40)
    # bottom 16x8: A matches -> mvA
    _put(fr, 3, 6, 0, (-5, 9))
    assert _mvp(fr, 4, 6, 4, 2, "16x8_1") == (-5, 9)


def test_mvp_8x16_directional_rules():
    fr = _mini_frame()
    _put(fr, 3, 4, 0, (8, 1))    # A of left partition
    assert _mvp(fr, 4, 4, 2, 4, "8x16_0") == (8, 1)
    # right 8x16: C (top-right of the partition)
    _put(fr, 8, 3, 0, (14, -2))
    for by in range(4):
        _put(fr, 5, 4 + by, 0, (0, 0))
    _put(fr, 6, 3, 0, (50, 50))  # B of right partition (not used)
    assert _mvp(fr, 6, 4, 2, 4, "8x16_1") == (14, -2)


def test_skip_mv_zero_conditions():
    # picture edge: zero
    fr = _mini_frame()
    assert _skip_mv(fr, 0, 4) == (0, 0)
    assert _skip_mv(fr, 4, 0) == (0, 0)
    # left neighbor ref 0 mv (0,0): zero even with a nonzero predictor
    fr = _mini_frame()
    _put(fr, 3, 4, 0, (0, 0))    # A zero
    _put(fr, 4, 3, 0, (8, 8))    # B
    _put(fr, 8, 3, 0, (8, 8))    # C
    assert _skip_mv(fr, 4, 4) == (0, 0)
    # intra left neighbor (ref -1, mv 0) does NOT trigger the zero
    # rule -> falls through to the predictor
    fr = _mini_frame()
    _put(fr, 3, 4, -1, (0, 0))   # A intra
    _put(fr, 4, 3, 0, (8, 6))    # B
    _put(fr, 8, 3, 0, (8, 6))    # C
    assert _skip_mv(fr, 4, 4) == (8, 6)


# --- leg 4: deblocking boundary strength -------------------------------------


def test_bs_pair_all_classes():
    fr = _mini_frame(2, 1)
    # both inter, equal MVs, no coefficients -> 0
    for bx in range(8):
        for by in range(4):
            _put(fr, bx, by, 0, (4, 4))
    fr.nz_y[:, :] = 0
    assert h264._bs_pair(fr, 3, 0, 4, 0, True) == 0
    # MV x-delta of 4 quarter samples -> 1
    fr.mv[0, 4] = (8, 4)
    assert h264._bs_pair(fr, 3, 0, 4, 0, True) == 1
    assert h264._bs_pair(fr, 3, 1, 4, 1, True) == 0  # row below unchanged
    # MV y-delta of 3 -> still 0
    fr.mv[1, 4] = (4, 7)
    assert h264._bs_pair(fr, 3, 1, 4, 1, True) == 0
    # nonzero coefficients -> 2 (beats the MV rule)
    fr.nz_y[0, 4] = 3
    assert h264._bs_pair(fr, 3, 0, 4, 0, True) == 2
    # intra on one side: 4 at an MB edge, 3 internally
    fr.mb_intra[0, 1] = True
    assert h264._bs_pair(fr, 3, 0, 4, 0, True) == 4
    assert h264._bs_pair(fr, 4, 0, 5, 0, False) == 3


def test_constant_pan_p_frame_survives_deblocking():
    # every MB pans by the same fractional MV: all bS 0 -> the decoded
    # picture must equal pure MC of the reference even with deblock ON
    rng = np.random.default_rng(23)
    sps, pps = _ctx(3, 2, 26)
    gray = rng.integers(0, 256, (32, 48)).astype(np.uint8)
    ref = _pcm_ref(sps, pps, gray)
    mv = (5, -6)  # quarter-pel fractional pan
    nalu = h264.encode_p_slice(
        [{"mv": mv}] * 6, 3, 2, 26, 1, deblocking=True)
    _, planes = h264.decode_slice(sps, pps, nalu, ref)
    exp = np.zeros_like(ref[0])
    for my in range(2):
        for mx in range(3):
            x0, y0 = mx * 16, my * 16
            exp[y0:y0 + 16, x0:x0 + 16] = dual_mc_luma(
                ref[0], x0, y0, 16, 16, mv[0], mv[1])
    assert np.array_equal(planes[0], exp)


# --- leg 5: GOP semantics through MP4 ----------------------------------------


def test_pgop_values_and_keyframe_seek():
    specs = [("idr", 80), ("skip",), ("pdelta", 5), ("pmv", (7, -3)),
             ("skip",)]
    raw = mp4.mp4_encode_pgop(specs, 48, 32, fps=10, qp=12)
    info = mp4.mp4_probe(raw)
    assert info["sync"] == [0]  # only the IDR is a sync sample
    seq = list(mp4.mp4_decode_all(raw))
    assert [s[0] for s in seq] == [0, 1, 2, 3, 4]
    assert [s[2] for s in seq] == [True, False, False, False, False]
    vals = [np.unique(s[3]).tolist() for s in seq]
    assert vals == [[80], [80], [85], [85], [85]]
    # the keyframe seek path must return ONLY the IDR
    keys = list(mp4.mp4_decode_keyframes(raw))
    assert len(keys) == 1 and np.unique(keys[0][2]).tolist() == [80]


def test_pgop_timestamps_follow_stts():
    raw = mp4.mp4_encode_pgop(
        [("idr", 10), ("skip",), ("skip",)], 32, 32, fps=5)
    assert [ts for _, ts, _, _ in mp4.mp4_decode_all(raw)] == [0, 200, 400]


def test_pgop_multiple_gops():
    specs = [("idr", 30), ("pdelta", 2), ("idr", 90), ("pdelta", -4),
             ("pmv", (1, 1))]
    raw = mp4.mp4_encode_pgop(specs, 32, 16, qp=15)
    info = mp4.mp4_probe(raw)
    assert info["sync"] == [0, 2]
    vals = [int(f[0, 0, 0]) for *_, f in mp4.mp4_decode_all(raw)]
    assert vals == [30, 32, 90, 86, 86]


# --- leg 6: codec-guard contract ---------------------------------------------


def _p_header_bits(slice_type=5, override=False, modify=False, mmco=False):
    w = BitWriter()
    w.ue(0)
    w.ue(slice_type)
    w.ue(0)
    w.u(1, 4)
    if override:
        w.u(1, 1)
        w.ue(1)  # num_ref_idx_l0_active_minus1 = 1 -> 2 refs
    else:
        w.u(0, 1)
    w.u(1 if modify else 0, 1)
    if not modify:
        w.u(1 if mmco else 0, 1)
    w.se(0)
    w.ue(1)
    h264._rbsp_trailing(w)
    return bytes([0x41]) + h264.rbsp_to_ebsp(w.to_bytes())


def test_multi_reference_refuses():
    sps, pps = _ctx(1, 1, 26)
    ref = _pcm_ref(sps, pps, np.full((16, 16), 9, np.uint8))
    with pytest.raises(NotImplementedError, match="reference pictures"):
        h264.decode_slice(sps, pps, _p_header_bits(override=True), ref)


def test_ref_list_modification_refuses():
    sps, pps = _ctx(1, 1, 26)
    ref = _pcm_ref(sps, pps, np.full((16, 16), 9, np.uint8))
    with pytest.raises(NotImplementedError, match="list modification"):
        h264.decode_slice(sps, pps, _p_header_bits(modify=True), ref)


def test_mmco_refuses():
    sps, pps = _ctx(1, 1, 26)
    ref = _pcm_ref(sps, pps, np.full((16, 16), 9, np.uint8))
    with pytest.raises(NotImplementedError, match="MMCO"):
        h264.decode_slice(sps, pps, _p_header_bits(mmco=True), ref)


def test_weighted_pred_refuses():
    # craft a PPS with weighted_pred on
    w = BitWriter()
    w.ue(0)
    w.ue(0)
    w.u(0, 1)  # CAVLC
    w.u(0, 1)
    w.ue(0)
    w.ue(0)
    w.ue(0)
    w.u(1, 1)  # weighted_pred ON
    w.u(0, 2)
    w.se(0)
    w.se(0)
    w.se(0)
    w.u(1, 1)
    w.u(0, 1)
    w.u(0, 1)
    h264._rbsp_trailing(w)
    pps = h264.parse_pps(b"\x68" + h264.rbsp_to_ebsp(w.to_bytes()))
    assert pps["weighted_pred"] == 1
    sps, _ = _ctx(1, 1, 26)
    ref = _pcm_ref(sps, h264.parse_pps(h264.encode_pps(26)),
                   np.full((16, 16), 9, np.uint8))
    with pytest.raises(NotImplementedError, match="weighted"):
        h264.decode_slice(sps, pps, _p_header_bits(), ref)


def test_constrained_intra_pred_refuses_in_p():
    """constrained_intra_pred=1 would require intra MBs in P slices to
    ignore inter neighbors' pixels; this decoder reads them, so it
    must refuse rather than reconstruct silently wrong (review fix)."""
    w = BitWriter()
    w.ue(0)
    w.ue(0)
    w.u(0, 1)
    w.u(0, 1)
    w.ue(0)
    w.ue(0)
    w.ue(0)
    w.u(0, 1)
    w.u(0, 2)
    w.se(0)
    w.se(0)
    w.se(0)
    w.u(1, 1)
    w.u(1, 1)  # constrained_intra_pred ON
    w.u(0, 1)
    h264._rbsp_trailing(w)
    pps = h264.parse_pps(b"\x68" + h264.rbsp_to_ebsp(w.to_bytes()))
    assert pps["constrained_intra"] == 1
    sps, pps_ok = _ctx(1, 1, 26)
    ref = _pcm_ref(sps, pps_ok, np.full((16, 16), 9, np.uint8))
    with pytest.raises(NotImplementedError, match="constrained_intra"):
        h264.decode_slice(sps, pps, _p_header_bits(), ref)
    # all-intra pictures are unaffected (no inter neighbors exist)
    h264.decode_slice(
        sps, pps, h264.encode_flat_i16_slice(60, 1, 1, 26, idr=True)
    )


def test_p_slice_in_idr_nal_raises():
    sps, pps = _ctx(1, 1, 26)
    nalu = h264.encode_p_slice(["skip"], 1, 1, 26, 1)
    forged = bytes([0x65]) + nalu[1:]  # claim IDR NAL type
    with pytest.raises(ValueError, match="IDR"):
        h264.decode_slice(sps, pps, forged)


def test_skip_run_overrun_raises():
    sps, pps = _ctx(2, 1, 26)
    ref = _pcm_ref(sps, pps, np.full((16, 32), 9, np.uint8))
    w = BitWriter()
    h264._write_p_slice_header(w, 1)
    w.ue(7)  # skip run of 7 in a 2-MB picture
    h264._rbsp_trailing(w)
    nalu = bytes([0x41]) + h264.rbsp_to_ebsp(w.to_bytes())
    with pytest.raises(ValueError, match="mb_skip_run"):
        h264.decode_slice(sps, pps, nalu, ref)


def test_p_slice_early_end_raises():
    sps, pps = _ctx(2, 2, 26)
    ref = _pcm_ref(sps, pps, np.full((32, 32), 9, np.uint8))
    w = BitWriter()
    h264._write_p_slice_header(w, 1)
    w.ue(1)  # skip 1 of 4 MBs, then nothing
    h264._rbsp_trailing(w)
    nalu = bytes([0x41]) + h264.rbsp_to_ebsp(w.to_bytes())
    with pytest.raises(ValueError, match="ends after"):
        h264.decode_slice(sps, pps, nalu, ref)


def test_reference_geometry_mismatch_raises():
    sps, pps = _ctx(2, 1, 26)
    small = _pcm_ref(*_ctx(1, 1, 26), np.full((16, 16), 9, np.uint8))
    nalu = h264.encode_p_slice(["skip"] * 2, 2, 1, 26, 1)
    with pytest.raises(ValueError, match="geometry"):
        h264.decode_slice(sps, pps, nalu, small)


def test_arbitrary_gop_specs_decode_to_recurrence():
    """Property sweep: random GOP structures (idr/skip/pdelta/pmv in
    any order after the opening IDR, random geometry/qp/fps) must
    decode — through the full mux + sequential-decode pipeline — to
    exactly the value sequence the SQL-oracle recurrence predicts."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(deadline=None, derandomize=True, max_examples=25,
              suppress_health_check=[HealthCheck.too_slow])
    @given(data=st.data())
    def run(data):
        w = data.draw(st.sampled_from([16, 32, 48]))
        h = data.draw(st.sampled_from([16, 32]))
        qp = data.draw(st.integers(0, 16))
        n = data.draw(st.integers(2, 7))
        v = data.draw(st.integers(30, 220))
        specs = [("idr", v)]
        expect = [v]
        cur = v
        for _ in range(n - 1):
            tag = data.draw(st.sampled_from(["skip", "pdelta", "pmv", "idr"]))
            if tag == "idr":
                cur = data.draw(st.integers(30, 220))
                specs.append(("idr", cur))
            elif tag == "pdelta":
                d = data.draw(st.integers(-5, 5))
                if not 0 <= cur + d <= 255:
                    d = -d
                cur += d
                specs.append(("pdelta", d))
            elif tag == "pmv":
                specs.append(("pmv", (data.draw(st.integers(-9, 9)),
                                      data.draw(st.integers(-9, 9)))))
            else:
                specs.append(("skip",))
            expect.append(cur)
        raw = mp4.mp4_encode_pgop(specs, w, h, fps=8, qp=qp)
        got = []
        for *_, f in mp4.mp4_decode_all(raw):
            u = np.unique(f)
            assert len(u) == 1, "frame not solid"
            got.append(int(u[0]))
        assert got == expect, (specs, got, expect)

    run()


def test_pgop_pixels_match_y4m_same_frames():
    """Cross-container pin: the same solid frames through the H.264
    P-GOP path (IDR + P_Skip + flat-delta) and as raw Y4M decode to
    IDENTICAL luma planes — container and codec are irrelevant to the
    pixels, the property frame-level near-dup relies on."""
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        Y4M_MAGIC,
        y4m_header,
    )

    vals = [90, 90, 96]  # idr, skip, +6
    raw = mp4.mp4_encode_pgop(
        [("idr", 90), ("skip",), ("pdelta", 6)], 32, 16, fps=5, qp=12)
    mp4_frames = [f for *_, f in mp4.mp4_decode_all(raw)]
    # raw Y4M of the same planes (4:2:0, chroma 128)
    body = b"".join(
        b"FRAME\n" + bytes([v]) * (32 * 16) + bytes([128]) * (16 * 8) * 2
        for v in vals
    )
    y4m = Y4M_MAGIC + b"W32 H16 F5:1 Ip A1:1 C420\n" + body
    w, h, *_ , hl = y4m_header(y4m)
    assert (w, h) == (32, 16)
    pos = hl
    for i, v in enumerate(vals):
        assert y4m[pos : pos + 6] == b"FRAME\n"
        pos += 6
        yplane = np.frombuffer(
            y4m[pos : pos + w * h], dtype=np.uint8
        ).reshape(h, w)
        pos += w * h + (w // 2) * (h // 2) * 2
        # decoded MP4 RGB is gray (chroma 128): every channel == luma
        assert np.array_equal(mp4_frames[i][:, :, 0], yplane)
        assert np.all(mp4_frames[i][:, :, 0] == v)


def test_sample_decoder_nonref_frames_do_not_become_references():
    # IDR (ref) then a NON-reference I frame (ref_idc 0): a following
    # P_Skip must copy the IDR, not the non-ref frame
    sps_n = h264.encode_sps(1, 1, 0, 0)
    pps_n = h264.encode_pps(12)
    sps, pps = h264.parse_sps(sps_n), h264.parse_pps(pps_n)
    import struct as _s

    def samp(nalu):
        return _s.pack(">I", len(nalu)) + nalu

    idr = h264.encode_flat_i16_slice(60, 1, 1, 12, idr=True)
    nonref_i = h264.encode_flat_i16_slice(200, 1, 1, 12, idr=False)
    assert (nonref_i[0] >> 5) & 3 == 0  # written as non-reference
    pskip = h264.encode_p_slice(["skip"], 1, 1, 12, 1)
    dec = h264.H264SampleDecoder(sps, pps)
    v = [int(dec.decode(samp(n))[0, 0, 0]) for n in (idr, nonref_i, pskip)]
    assert v == [60, 200, 60]
