#!/usr/bin/env python
"""Per-format codec timing, no Spark: min-of-7 wall time of each fixture
encoder and of its decoder on fixed inputs.

Formats: JPEG baseline with restart markers, JPEG progressive, GIF,
TIFF-LZW (64x64 gray image), FLAC (16k mono samples), and H.264-in-MP4
in PCM and dc16 modes (four 96x128 frames).  Prints one JSON object
{format: {"decode_ms": .., "encode_ms": ..}}.

To compare two commits, check out the other one next to this repo
(git archive or git clone), copy this script into its tools/, and run
the two alternately, one process each, on an otherwise idle host:

    for i in 1 2 3; do
      (cd ../parent && python tools/codec_timing.py) >> parent.jsonl
      python tools/codec_timing.py >> change.jsonl
    done

then take the per-format minimum of each file.

Usage: python tools/codec_timing.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

RUNS = 7


def _best_ms(fn) -> float:
    best = float("inf")
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000, 2)


def _formats():
    from imdb_top_250_etl_pipeline_spark.operators import flac, gif, jpeg, mp4, tiff

    y, x = np.indices((64, 64))
    img = ((x * 3 + y * 5 + (x * y) % 29 * 4) % 256).astype(np.uint8)
    t = np.arange(16384, dtype=np.int64)
    audio = np.abs((t * 97) % 8000 - 4000) * 6 - 12000 + (
        (t * 1103515245 + 12345) % 2048 - 1024
    )
    vy, vx = np.indices((96, 128))
    frames = [((vx * 2 + vy * 3 + k * 40) % 256).astype(np.uint8) for k in range(4)]
    solid = [np.full((96, 128), 30 + 50 * k, np.uint8) for k in range(4)]

    def _mp4_decode(raw):
        return list(mp4.mp4_decode_all(raw))

    return {
        "jpeg_rst": (lambda: jpeg.jpeg_encode(img, 90, restart_interval=4),
                     jpeg.jpeg_decode),
        "jpeg_progressive": (lambda: jpeg.jpeg_encode_progressive(img, 90),
                             jpeg.jpeg_decode),
        "gif": (lambda: gif.gif_encode(img), gif.gif_gray_pixels),
        "tiff_lzw": (lambda: tiff.tiff_encode(img, compression="lzw"),
                     tiff.tiff_gray_pixels),
        "flac": (lambda: flac.flac_encode(audio, 16000), flac.flac_decode),
        "h264_pcm": (lambda: mp4.mp4_encode_gray(frames, mode="pcm"),
                     _mp4_decode),
        "h264_dc16": (lambda: mp4.mp4_encode_gray(solid, mode="dc16"),
                      _mp4_decode),
    }


def main() -> None:
    out = {}
    for name, (encode, decode) in _formats().items():
        raw = encode()
        out[name] = {
            "decode_ms": _best_ms(lambda: decode(raw)),
            "encode_ms": _best_ms(encode),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
