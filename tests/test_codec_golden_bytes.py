"""Golden bytes for every fixture encoder.

The codec tests elsewhere round-trip: encode, decode, compare pixels or
samples.  A round trip cannot see a change that the decoder tolerates —
JPEG's pad bits flipping from 1 to 0, a different but still valid LZW
code-width schedule, a FLAC Rice parameter picked differently.  These
tests pin the SHA-256 of each encoder's output on fixed, arithmetic
inputs, so any byte that moves fails here first.

The inputs are integer arithmetic only (no RNG, no trigonometry), so the
only float work is the JPEG DCT itself.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from imdb_top_250_etl_pipeline_spark.operators.flac import flac_encode
from imdb_top_250_etl_pipeline_spark.operators.gif import gif_encode
from imdb_top_250_etl_pipeline_spark.operators.jpeg import (
    jpeg_encode,
    jpeg_encode_progressive,
)
from imdb_top_250_etl_pipeline_spark.operators.mp4 import (
    mp4_encode_gray,
    mp4_encode_pgop,
)
from imdb_top_250_etl_pipeline_spark.operators.tiff import tiff_encode


def _gray(h: int, w: int) -> np.ndarray:
    """A gradient with a multiplicative texture: smooth areas for the
    predictors, busy ones for long VLC/LZW codes and JPEG FF bytes."""
    y, x = np.indices((h, w))
    return ((x * 3 + y * 5 + (x * y) % 29 * 4) % 256).astype(np.uint8)


def _rgb(h: int, w: int) -> np.ndarray:
    g = _gray(h, w).astype(np.int64)
    return np.stack([g, (255 - g) // 2 + 40, (g * 7) % 256], axis=-1).astype(
        np.uint8
    )


def _audio(n: int, channels: int) -> np.ndarray:
    """Triangle wave plus an LCG hiss, 16-bit range."""
    t = np.arange(n, dtype=np.int64)
    tri = np.abs((t * 97) % 8000 - 4000) * 6 - 12000
    hiss = (t * 1103515245 + 12345) % 2048 - 1024
    cols = [tri + hiss, (tri // 2 - hiss)][:channels]
    return np.stack(cols, axis=-1) if channels > 1 else cols[0]


_FIXTURES = {
    "jpeg_gray_q75": lambda: jpeg_encode(_gray(64, 64), quality=75),
    "jpeg_gray_q75_rst3": lambda: jpeg_encode(
        _gray(64, 64), quality=75, restart_interval=3
    ),
    "jpeg_rgb420_q85": lambda: jpeg_encode(
        _rgb(40, 48), quality=85, subsample=True
    ),
    "jpeg_rgb420_q100_rst2": lambda: jpeg_encode(
        _rgb(40, 48), quality=100, subsample=True, restart_interval=2
    ),
    "jpeg_prog_gray_q98": lambda: jpeg_encode_progressive(
        _gray(64, 64), quality=98
    ),
    "jpeg_prog_rgb420_q90": lambda: jpeg_encode_progressive(
        _rgb(40, 48), quality=90, subsample=True
    ),
    "gif_gray": lambda: gif_encode(_gray(64, 64)),
    "gif_gray_interlaced": lambda: gif_encode(_gray(37, 23), interlace=True),
    "tiff_lzw": lambda: tiff_encode(_gray(64, 64), compression="lzw"),
    "tiff_lzw_predictor": lambda: tiff_encode(
        _gray(64, 64), compression="lzw", predictor=True
    ),
    "flac_fixed_mono": lambda: flac_encode(
        _audio(4096, 1), 16000, mode="fixed", block_size=1024
    ),
    "flac_fixed_stereo": lambda: flac_encode(
        _audio(3000, 2), 44100, mode="fixed", block_size=1152
    ),
    "flac_verbatim": lambda: flac_encode(
        _audio(600, 1), 8000, mode="verbatim", block_size=256
    ),
    "flac_constant": lambda: flac_encode(
        np.full(512, -77, np.int64), 8000, mode="constant", block_size=256
    ),
    "mp4_gray_pcm": lambda: mp4_encode_gray(
        [_gray(32, 48), _gray(32, 48)[::-1].copy()], mode="pcm"
    ),
    "mp4_gray_dc16": lambda: mp4_encode_gray(
        [np.full((40, 56), v, np.uint8) for v in (0, 90, 255, 17)],
        mode="dc16",
        key_every=2,
    ),
    "mp4_pgop": lambda: mp4_encode_pgop(
        [("idr", 90), ("skip",), ("pdelta", 4), ("pmv", (5, 6)),
         ("idr", 30), ("pmv", (-9, 2)), ("skip",)],
        48, 32, fps=8,
    ),
}

_GOLDEN = {
    "flac_constant": "87ef3fc73ee10fcf985100d1a13507a8155f0a2e2eed58605df4ad682ca9c18b",
    "flac_fixed_mono": "3a36ab9eca791775fc3679b5f58fff89e80c6d85bb823269bdcdf6dc835b0e70",
    "flac_fixed_stereo": "99d0fa5f1160c611354bcb667390e17465d9ba5a7d34966116cb2882cdf96ee4",
    "flac_verbatim": "f9b0c56533b0ea9be22c41453d42f11fdf01d0eb15cd5b624bf0137d3089b6dd",
    "gif_gray": "3de5e4fb2fb1df8562506f233b46b564615e87d4b26904d8b32b0ba053d96493",
    "gif_gray_interlaced": "91aebe3e555e9d1bd9b60a207d738fc216c1398bbd0897df08d0d5727f2a39c6",
    "jpeg_gray_q75": "0794c6bc8c9fb555d73272ee938f782d0924f24732fa2ae3e217fa1fd6ce4018",
    "jpeg_gray_q75_rst3": "de5e7d1b7a800067524225495fb4f49061d77f5dc01aff53d25d3c5831786da8",
    "jpeg_prog_gray_q98": "feb7dcacd05786101f61174d33a8889ed4311613c9574fdc5da45bac3d213f49",
    "jpeg_prog_rgb420_q90": "1f01971322f929d10959d450c33844bd80b8d88bfd8492921080a7114121a90e",
    "jpeg_rgb420_q100_rst2": "14dd1cc7c88bcfa50469bfb2d03cc43f760ec74e1fab095c228319c609a12b10",
    "jpeg_rgb420_q85": "09f1762c1797d97069631c189f7a3bca9cdffdc8c28e9f23aba4089df7e2ce12",
    "mp4_gray_dc16": "2e2def5a6751227835b1f7d162c8852fb4d83108cc16af645d60fdae5302da09",
    "mp4_gray_pcm": "735cff0bc3881d8e9ba81af30465f9641b3272d0b8cc92f3cb11dea16446ba9b",
    "mp4_pgop": "6723a38399938e79d8c287b9b10f7aabe9e52cff4d55b9e830ff3e95a4f0fe1f",
    "tiff_lzw": "08ec62002b4a3e6599be52ed33e494a5398d287dd614f1949d467e09b97bce2e",
    "tiff_lzw_predictor": "7af170ad9a4033865fcfb68f52fe60003e0ec4530eb9c7dd802ad2b9f6b8712d",
}


@pytest.mark.parametrize("name", sorted(_FIXTURES))
def test_encoder_golden_bytes(name):
    got = hashlib.sha256(_FIXTURES[name]()).hexdigest()
    assert got == _GOLDEN[name]


@pytest.mark.parametrize(
    "name",
    [
        "jpeg_gray_q75_rst3",
        "jpeg_rgb420_q100_rst2",
        "jpeg_prog_gray_q98",
        "jpeg_prog_rgb420_q90",
    ],
)
def test_golden_fixtures_cover_jpeg_byte_stuffing(name):
    """These JPEG fixtures must hold stuffed FF00 pairs (and RSTn
    markers where a restart interval is set), or the digests above
    would not pin those steps."""
    raw = _FIXTURES[name]()
    scan = raw[raw.index(b"\xff\xda") :]
    assert b"\xff\x00" in scan
    if "rst" in name:
        assert b"\xff\xd0" in scan
