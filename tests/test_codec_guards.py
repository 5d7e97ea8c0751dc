"""Corrupt-media guards at the codec seam (round 10).

At corpus scale ONE malicious or bit-rotted file must not take an
executor down: a lying header claiming 60000x60000 would allocate tens
of GB, and the compressed formats (PNG deflate, GIF LZW) can inflate a
few KB into that much — the classic decompression bomb.  Every pixel
decoder enforces multimodal.MAX_PIXELS before allocating, PNG inflates
through a bounded decompressobj capped at the header-implied filtered
size, and GIF's LZW output is capped at iw*ih (which the guard bounds).

Each test asserts the guard fires FAST (no allocation) with a loud
ValueError, and that a defused bomb still decodes the legitimate prefix
correctly.
"""

from __future__ import annotations

import struct
import time
import zlib

import numpy as np
import pytest

from imdb_top_250_etl_pipeline_spark.operators.gif import gif_encode, gif_gray_pixels
from imdb_top_250_etl_pipeline_spark.operators.jpeg import jpeg_decode, jpeg_encode
from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
    MAX_PIXELS,
    png_gray_pixels,
)


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload)) + ctype + payload + b"\x00" * 4


def _png(w: int, h: int, idat: bytes) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def test_png_lying_header_rejected_fast():
    raw = _png(60000, 60000, zlib.compress(b"\x00" * 100))
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        png_gray_pixels(raw)
    assert time.perf_counter() - t0 < 1.0  # guard, not an OOM attempt


def test_png_truncated_idat_loud():
    # header says 8x8 gray (72 filtered bytes) but IDAT holds 10
    raw = _png(8, 8, zlib.compress(b"\x00" * 10))
    with pytest.raises(ValueError, match="truncated"):
        png_gray_pixels(raw)


def test_png_bomb_defused_and_prefix_decodes():
    # 16x16 gray needs 16*17=272 filtered bytes; the IDAT inflates to
    # 10 MB — the bounded inflate stops at 272 and decode succeeds
    w = h = 16
    payload = b"\x00" * (h * (w + 1)) + b"\x07" * 10_000_000
    raw = _png(w, h, zlib.compress(payload))
    out = png_gray_pixels(raw)
    assert out.shape == (h, w) and (out == 0).all()


def test_jpeg_lying_sof_rejected_fast():
    raw = bytearray(jpeg_encode(np.full((8, 8), 5, np.uint8), quality=90))
    sof = raw.index(b"\xff\xc0")
    # SOF0 payload: len(2) precision(1) height(2) width(2)...
    raw[sof + 5 : sof + 9] = struct.pack(">HH", 60000, 60000)
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        jpeg_decode(bytes(raw))
    assert time.perf_counter() - t0 < 1.0


def test_gif_lying_descriptor_rejected_fast():
    raw = bytearray(gif_encode(np.full((8, 8), 5, np.uint8)))
    img = 13 + 768  # header + global color table
    assert raw[img] == 0x2C
    raw[img + 5 : img + 9] = struct.pack("<HH", 60000, 60000)
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        gif_gray_pixels(bytes(raw))
    assert time.perf_counter() - t0 < 1.0


# --- round-11 (driver ADVICE): corrupt streams raise ValueError, never
# IndexError/KeyError — truncations and dangling table/code references
# must hit the same loud exception contract as the bomb guards.


def test_gif_truncated_streams_raise_valueerror():
    good = gif_encode(np.arange(64, dtype=np.uint8).reshape(8, 8))
    # cut the stream at many points: header, color table, descriptor,
    # LZW sub-blocks — every prefix must raise ValueError, nothing else
    for cut in range(4, len(good) - 1, 7):
        with pytest.raises(ValueError):
            gif_gray_pixels(good[:cut])


def test_gif_invalid_initial_lzw_code_valueerror():
    raw = bytearray(gif_encode(np.full((8, 8), 5, np.uint8)))
    img = 13 + 768
    assert raw[img] == 0x2C
    # image data: min-code-size byte, then first sub-block; corrupt the
    # first LZW byte so the initial code (post-CLEAR) is out of range
    data0 = img + 10 + 1  # descriptor(10) + mcs(1) + blocklen -> first byte
    raw[data0 + 1] = 0xFF
    raw[data0 + 2] = 0xFF
    with pytest.raises(ValueError):
        gif_gray_pixels(bytes(raw))


def test_gif_bad_min_code_size_valueerror():
    raw = bytearray(gif_encode(np.full((8, 8), 5, np.uint8)))
    img = 13 + 768
    raw[img + 10] = 12  # LZW min code size must be 2..8
    with pytest.raises(ValueError, match="min code size"):
        gif_gray_pixels(bytes(raw))


def test_jpeg_truncated_entropy_valueerror():
    good = jpeg_encode(np.arange(64, dtype=np.uint8).reshape(8, 8), quality=90)
    # drop the tail (EOI + entropy bytes): reader must refuse loudly
    for cut in (len(good) - 4, len(good) - 8):
        with pytest.raises(ValueError, match="truncated entropy"):
            jpeg_decode(good[:cut])


def test_jpeg_undefined_table_ids_valueerror():
    raw = bytearray(jpeg_encode(np.full((8, 8), 5, np.uint8), quality=90))
    sos = raw.index(b"\xff\xda")
    # SOS component spec: id(1), Td<<4|Ta(1) — point at undefined 7/7
    raw[sos + 6] = 0x77
    with pytest.raises(ValueError, match="undefined Huffman"):
        jpeg_decode(bytes(raw))


# --- synthetic fixture headers: one parser each, loud on bad fields ----------
#
# A zero field used to reach a division downstream and crash with
# ZeroDivisionError (resize_images' longer side, sample_frames' fps,
# decode_audio's rate) — outside the seam's ValueError contract.


def test_img_header_rejects_non_positive_and_malformed():
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import img_header

    assert img_header(b"IMG:40x30:hello") == (40, 30, b"hello")
    for bad in (
        b"IMG:0x0:", b"IMG:40x0:", b"IMG:-4x3:", b"IMG:40:x", b"PNG:1x1:"
    ):
        with pytest.raises(ValueError, match="synthetic"):
            img_header(bad)


def test_vid_header_rejects_non_positive_and_malformed():
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import vid_header

    assert vid_header(b"VID:12:10:") == (12, 10)
    for bad in (b"VID:5:0:", b"VID:0:10:", b"VID:5:x:", b"VID:5"):
        with pytest.raises(ValueError, match="synthetic"):
            vid_header(bad)


def test_aud_header_rejects_non_positive_and_malformed():
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import aud_header

    assert aud_header(b"AUD:8000:abc") == (8000, b"abc")
    for bad in (b"AUD:0:", b"AUD:-8000:abc", b"AUD::abc"):
        with pytest.raises(ValueError, match="synthetic"):
            aud_header(bad)


# --- real headers that declare an empty image or a zero sample rate ----------
#
# The header readers return what the bytes say; the seam's dispatch
# (image_dims, _audio_samples) rejects the non-positive values that would
# otherwise reach a division in resize_images / decode_audio.


def test_image_dims_rejects_zero_size_headers():
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import image_dims

    png = _png(0, 0, zlib.compress(b""))
    gif = b"GIF89a" + struct.pack("<HH", 0, 0) + b"\x00" * 3
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 0, 0) + b"\x00" * 4
    assert image_dims(_png(3, 2, zlib.compress(b"\x00" * 8))) == (3, 2)
    for raw in (png, gif, bmp):
        with pytest.raises(ValueError, match="declares 0x0"):
            image_dims(raw)


def test_audio_samples_rejects_zero_sample_rate():
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import (
        _audio_samples,
        wav_encode_pcm16,
    )

    raw = bytearray(wav_encode_pcm16([0, 100, -100], 8000))
    assert _audio_samples(bytes(raw))[0] == 8000
    raw[24:28] = struct.pack("<I", 0)  # fmt nSamplesPerSec
    with pytest.raises(ValueError, match="sample rate 0"):
        _audio_samples(bytes(raw))
