"""REAL lossless compressed audio (round 13): FLAC decode + encode.

Legs: (1) lossless round-trips — fixed/verbatim/constant subframes,
mono/stereo, tail frames, MD5 verified; (2) hand-built streams for
decoder paths the fixture encoder doesn't emit — LPC subframes,
left/side, right/side, mid/side stereo decorrelation, wasted bits,
escape (raw) residual partitions, multi-partition Rice; (3)
codec-guard contract — CRC-8/16 and MD5 corruption loud, reserved
codes refuse, lying totals bounded; (4) cross-codec pin — identical
samples through FLAC and WAV PCM produce identical decode_audio
stats; (5) Spark seam integration (aud_flac battery arithmetic).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from imdb_top_250_etl_pipeline_spark.operators.bitstream import BitWriter
from imdb_top_250_etl_pipeline_spark.operators.flac import (
    FLAC_MAGIC,
    _crc8,
    _crc16,
    flac_decode,
    flac_encode,
    flac_streaminfo,
)


def _rng():
    return np.random.default_rng(99)


# --- leg 1: lossless round-trips -----------------------------------------------


def test_fixed_predictor_round_trip_mono():
    x = (np.cumsum(_rng().integers(-80, 81, size=9000)) % 40000 - 20000)
    raw = flac_encode(x.astype(np.int64), 16000)
    rate, got, bits = flac_decode(raw)
    assert (rate, bits) == (16000, 16)
    assert got.shape == x.shape and (got == x).all()
    assert len(raw) < 2 * len(x)  # genuinely compressed


def test_stereo_independent_round_trip():
    x = _rng().integers(-3000, 3000, size=(4000, 2)).astype(np.int64)
    rate, got, _ = flac_decode(flac_encode(x, 44100, block_size=512))
    assert got.shape == x.shape and (got == x).all()


@pytest.mark.parametrize("mode", ["constant", "verbatim", "fixed"])
def test_modes_round_trip(mode):
    if mode == "constant":
        x = np.full(3000, -12345, dtype=np.int64)
    else:
        x = _rng().integers(-32768, 32768, size=3000).astype(np.int64)
    rate, got, _ = flac_decode(flac_encode(x, 8000, mode=mode))
    assert (got == x).all()


def test_tail_frame_and_streaminfo():
    x = _rng().integers(-500, 500, size=4567).astype(np.int64)
    raw = flac_encode(x, 24000, block_size=1000)
    info = flac_streaminfo(raw)
    assert info["total_samples"] == 4567
    assert info["channels"] == 1 and info["bits"] == 16
    _, got, _ = flac_decode(raw)
    assert (got == x).all()


# --- leg 2: hand-built streams ----------------------------------------------------


def _hand_stream(nch, bps, total, frame_writer, rate=8000) -> bytes:
    """Assemble marker + STREAMINFO (md5 zero = unchecked) + one frame
    whose subframes are written by ``frame_writer(w)``."""
    si = BitWriter()
    si.u(total, 16)
    si.u(total, 16)
    si.u(0, 24)
    si.u(0, 24)
    si.u(rate, 20)
    si.u(nch - 1, 3)
    si.u(bps - 1, 5)
    si.u(total, 36)
    head = FLAC_MAGIC + bytes([0x80]) + (34).to_bytes(3, "big") + (
        si.to_bytes() + b"\x00" * 16
    )
    w = BitWriter()
    w.u(0b11111111111110, 14)
    w.u(0, 2)
    w.u(7, 4)  # 16-bit blocksize at end
    w.u(0, 4)  # rate from STREAMINFO
    frame_writer["header_ch"](w)
    w.u(4 if bps == 16 else 0, 3)
    w.u(0, 1)
    w.u(0, 8)  # frame number 0 (utf8 single byte)
    w.u(total - 1, 16)
    hdr = w.to_bytes()
    w.u(_crc8(hdr), 8)
    frame_writer["subframes"](w)
    w.align()
    body = w.to_bytes()
    return head + body + struct.pack(">H", _crc16(body))


def test_lpc_subframe_hand_stream():
    """LPC order 2, coefs [2,-1] shift 1 -> prediction (2a-b)>>1; the
    expected samples are re-derived independently below."""
    warm = [100, 140]
    resid = [7, -3, 0, 12, -8, 1]
    n = len(warm) + len(resid)

    def subframes(w):
        w.u(0, 1)
        w.u(32 + 1, 6)  # LPC order 2 (type 100001)
        w.u(0, 1)  # no wasted bits
        for v in warm:
            w.u(v, 16)
        w.u(4 - 1, 4)  # precision 4 bits
        w.u(1, 5)  # shift 1
        w.u(2, 4)  # coef[0]
        w.u(-1, 4)  # coef[1]
        w.u(0, 2)  # rice 4-bit
        w.u(0, 4)  # partition order 0
        w.u(2, 4)  # rice param 2
        for r in resid:
            v = (abs(r) << 1) - (1 if r < 0 else 0)
            w.u(0, v >> 2)
            w.u(1, 1)
            w.u(v & 3, 2)

    raw = _hand_stream(
        1, 16, n,
        {"header_ch": lambda w: w.u(0, 4), "subframes": subframes},
    )
    _, got, _ = flac_decode(raw)
    exp = list(warm)
    for r in resid:
        exp.append(r + ((2 * exp[-1] - 1 * exp[-2]) >> 1))
    assert got.tolist() == exp


@pytest.mark.parametrize("assign", [8, 9, 10])
def test_stereo_decorrelation_hand_streams(assign):
    left = [100, -50, 3210, 7, -1]
    right = [90, -60, 3000, -7, 4]
    n = len(left)
    if assign == 8:  # left/side
        ch0, ch1 = left, [l - r for l, r in zip(left, right)]
        bps = [16, 17]
    elif assign == 9:  # right/side (side first)
        ch0, ch1 = [l - r for l, r in zip(left, right)], right
        bps = [17, 16]
    else:  # mid/side
        ch0 = [(l + r) >> 1 for l, r in zip(left, right)]
        ch1 = [l - r for l, r in zip(left, right)]
        bps = [16, 17]

    def subframes(w):
        for vals, b in zip((ch0, ch1), bps):
            w.u(0, 1)
            w.u(1, 6)  # VERBATIM
            w.u(0, 1)
            for v in vals:
                w.u(v, b)

    raw = _hand_stream(
        2, 16, n,
        {"header_ch": lambda w: w.u(assign, 4), "subframes": subframes},
    )
    _, got, _ = flac_decode(raw)
    assert got[:, 0].tolist() == left and got[:, 1].tolist() == right


def test_wasted_bits_hand_stream():
    vals = [4, -8, 1024, 0, -4096, 12]  # all multiples of 4

    def subframes(w):
        w.u(0, 1)
        w.u(1, 6)  # VERBATIM
        w.u(1, 1)  # wasted-bits flag
        w.u(0b01, 2)  # unary 1 -> wasted = 2
        for v in vals:
            w.u(v >> 2, 14)

    raw = _hand_stream(
        1, 16, len(vals),
        {"header_ch": lambda w: w.u(0, 4), "subframes": subframes},
    )
    _, got, _ = flac_decode(raw)
    assert got.tolist() == vals


def test_escape_partition_hand_stream():
    """Rice escape (param 0b1111): raw 7-bit residuals, fixed order 0."""
    resid = [-63, 0, 5, 63, -1, 17]

    def subframes(w):
        w.u(0, 1)
        w.u(8, 6)  # FIXED order 0
        w.u(0, 1)
        w.u(0, 2)
        w.u(0, 4)  # one partition
        w.u(0b1111, 4)  # escape
        w.u(7, 5)  # 7-bit raw residuals
        for r in resid:
            w.u(r, 7)

    raw = _hand_stream(
        1, 16, len(resid),
        {"header_ch": lambda w: w.u(0, 4), "subframes": subframes},
    )
    _, got, _ = flac_decode(raw)
    assert got.tolist() == resid  # order 0: residual IS the signal


def test_multi_partition_rice_hand_stream():
    """Partition order 2 over blocksize 8, fixed order 1: first
    partition has 1 residual (2 - order), others 2 each."""
    warm = [1000]
    resid = [3, -2, 5, 0, -7, 1, 4]  # 7 = 8 - order

    def subframes(w):
        w.u(0, 1)
        w.u(8 + 1, 6)  # FIXED order 1
        w.u(0, 1)
        w.u(warm[0], 16)
        w.u(0, 2)
        w.u(2, 4)  # partition order 2 -> 4 partitions of 2 (first: 1)
        chunks = [resid[:1], resid[1:3], resid[3:5], resid[5:7]]
        for chunk in chunks:
            w.u(3, 4)  # rice param 3
            for r in chunk:
                v = (abs(r) << 1) - (1 if r < 0 else 0)
                w.u(0, v >> 3)
                w.u(1, 1)
                w.u(v & 7, 3)

    raw = _hand_stream(
        1, 16, 8,
        {"header_ch": lambda w: w.u(0, 4), "subframes": subframes},
    )
    _, got, _ = flac_decode(raw)
    exp = list(warm)
    for r in resid:
        exp.append(r + exp[-1])
    assert got.tolist() == exp


# --- leg 3: codec-guard contract ------------------------------------------------


def test_crc_and_md5_corruption_loud():
    x = _rng().integers(-2000, 2000, size=2000).astype(np.int64)
    raw = flac_encode(x, 8000)
    # flip a bit inside frame data: CRC-16 (or CRC-8/md5) must catch it
    for pos in (60, 120, len(raw) - 10):
        bad = bytearray(raw)
        bad[pos] ^= 0x10
        with pytest.raises((ValueError, NotImplementedError)):
            flac_decode(bytes(bad))


def test_md5_mismatch_is_loud():
    x = np.arange(500, dtype=np.int64)
    raw = bytearray(flac_encode(x, 8000))
    # STREAMINFO md5 lives at bytes 8+18 .. 8+34
    raw[8 + 18] ^= 0xFF
    with pytest.raises(ValueError, match="MD5"):
        flac_decode(bytes(raw))


def test_missing_streaminfo_and_bad_marker():
    with pytest.raises(ValueError, match="marker"):
        flac_decode(b"fLaX" + b"\x00" * 40)
    with pytest.raises(ValueError):
        flac_decode(FLAC_MAGIC + bytes([0x81]) + (2).to_bytes(3, "big") + b"ab")


def test_lying_total_samples_bounded():
    x = np.arange(100, dtype=np.int64)
    raw = bytearray(flac_encode(x, 8000))
    # total_samples spans STREAMINFO bits 108..143 (bytes 13..17 of the
    # 34-byte body at offset 8): setting the top bits inflates it
    raw[8 + 13] |= 0x0F
    raw[8 + 14] = 0xFF
    with pytest.raises(ValueError, match="lying|ended"):
        flac_decode(bytes(raw))


def test_truncated_stream_loud():
    x = np.arange(2000, dtype=np.int64)
    raw = flac_encode(x, 8000)
    with pytest.raises(ValueError):
        flac_decode(raw[: len(raw) // 2])


# --- leg 4: cross-codec pin ----------------------------------------------------


def test_flac_and_wav_agree_on_identical_samples():
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        wav_pcm_samples,
    )
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        wav_encode_pcm16,
    )

    x = (np.cumsum(_rng().integers(-99, 100, size=3000)) % 20000 - 10000)
    x = x.astype(np.int64)
    rate_w, got_w, bits_w = wav_pcm_samples(wav_encode_pcm16(x, 16000))
    rate_f, got_f, bits_f = flac_decode(flac_encode(x, 16000))
    assert rate_w == rate_f and bits_w == bits_f
    assert (got_w == got_f).all() and (got_f == x).all()


# --- leg 5: Spark seam ----------------------------------------------------------


def test_spark_flac_stats_id_arithmetic(spark):
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        decode_audio,
        synthesize_flac_blobs,
    )

    docs = spark.range(0, 50).selectExpr("id * 7 as doc_id")
    got = decode_audio(synthesize_flac_blobs(docs, "doc_id")).collect()
    assert got
    for r in got:
        i = r.doc_id
        n = i % 400 + 50
        assert r.n_samples == n
        assert r.sample_rate == (i % 3 + 1) * 8000
        assert r.duration_ms == n * 1000 // r.sample_rate
        if i % 9 == 0:
            assert r.peak == 32767 and r.n_clipped == n
        else:
            exp_peak = max(
                abs(((i + 17 * j) % 2001) - 1000) for j in range(n)
            )
            assert r.peak == exp_peak and r.n_clipped == 0
