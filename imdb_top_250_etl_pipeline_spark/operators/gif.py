"""GIF codec, pure stdlib + numpy — the palette/LZW image format.

Completes the classic web-image trio at the multimodal codec seam:
JPEG (DCT entropy coding, operators/jpeg.py), PNG (deflate filters,
operators/multimodal.py), and GIF — LZW-compressed palette indices
(GIF87a/89a, the format of early-web crawl corpora).

Decoder scope: the FIRST image of a GIF87a/GIF89a stream — global or
local color table, interlaced or sequential, any extension blocks
skipped by their sub-block chains, full variable-width LZW (dictionary
growth to 4096, CLEAR/END codes, the KwKwK self-reference case, LSB-
first bit packing — the opposite bit order of JPEG's entropy data).
The LZW codec is operators/bitstream.py's, shared with TIFF; GIF passes
its constants: 2^min-code-size roots, LSB-first, no EarlyChange.
Later animation frames are ignored by design (frame 1 is the corpus
thumbnail case); a missing image block raises ValueError.

Encoder: real LZW compression (not the uncompressed-GIF trick), one
frame, optional interlace — deterministic, used as the fixture writer
so decode is exercised by genuinely compressed bitstreams.  Palette
indices are the image; a gray ramp palette (i, i, i) makes solid-color
fixtures decode EXACTLY, which is what the driver-checked oracle pins.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitstream import lzw_decode, lzw_encode

GIF_MAGIC = b"GIF8"

# 4-pass interlace row schedule (GIF spec appendix E)
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_dims(raw: bytes) -> tuple[int, int]:
    """(width, height) from the logical screen descriptor — metadata
    only, like png_ihdr / bmp_dims / jpeg_dims."""
    if raw[:4] != GIF_MAGIC or raw[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF87a/GIF89a stream")
    if len(raw) < 13:
        raise ValueError("truncated GIF header")
    w, h = struct.unpack("<HH", raw[6:10])
    return w, h


def _byte_at(raw: bytes, pos: int) -> int:
    """raw[pos] with the truncation contract: corrupt streams raise a
    loud ValueError (tests/test_codec_guards.py), never IndexError."""
    if pos >= len(raw):
        raise ValueError("truncated GIF stream")
    return raw[pos]


def _subblocks(raw: bytes, pos: int) -> tuple[bytes, int]:
    """A sub-block chain's joined payload and the position after its
    zero-length terminator."""
    chunks = []
    while True:
        n = _byte_at(raw, pos)
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        chunks.append(raw[pos : pos + n])
        pos += n


def gif_gray_pixels(raw: bytes):
    """Decode the first image of a GIF to an (h, w) uint8 grayscale
    ndarray through the shared exact integer luma (_luma_u8) — the same
    pixels hash identically across PNG/BMP/JPEG/GIF containers."""
    from .multimodal import _luma_u8

    w, h = gif_dims(raw)
    packed = raw[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(raw):
            raise ValueError("truncated GIF global color table")
        gct = np.frombuffer(raw[pos : pos + 3 * n], dtype=np.uint8).reshape(
            n, 3
        )
        pos += 3 * n
    while pos < len(raw):
        block = raw[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-block chain
            _, pos = _subblocks(raw, pos + 1)
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(raw):
                raise ValueError("truncated GIF image descriptor")
            _left, _top, iw, ih = struct.unpack("<HHHH", raw[pos : pos + 8])
            ipacked = raw[pos + 8]
            pos += 9
            from .multimodal import MAX_PIXELS

            if iw * ih > MAX_PIXELS:
                raise ValueError(
                    f"GIF {iw}x{ih} exceeds MAX_PIXELS ({MAX_PIXELS}): "
                    "lying header or oversized media (the LZW output is "
                    "capped at iw*ih, so this also bounds bombs)"
                )
            ct = gct
            if ipacked & 0x80:  # local color table
                n = 2 << (ipacked & 0x07)
                if pos + 3 * n > len(raw):
                    raise ValueError("truncated GIF local color table")
                ct = np.frombuffer(
                    raw[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image without a color table")
            mcs = _byte_at(raw, pos)
            pos += 1
            if not 2 <= mcs <= 8:  # palette depth is 1..8 bits
                raise ValueError(f"invalid GIF LZW min code size {mcs}")
            data, pos = _subblocks(raw, pos)
            idx = np.frombuffer(
                lzw_decode(
                    data, iw * ih, 1 << mcs, msb_first=False,
                    early_change=0, what="GIF LZW stream",
                ),
                dtype=np.uint8,
            )
            if (idx >= len(ct)).any():
                raise ValueError("GIF pixel index outside color table")
            rows = idx.reshape(ih, iw)
            if ipacked & 0x40:  # interlaced: undo the 4-pass order
                ordered = np.empty_like(rows)
                src = 0
                for start, step in _INTERLACE:
                    for r in range(start, ih, step):
                        ordered[r] = rows[src]
                        src += 1
                rows = ordered
            return _luma_u8(ct[rows])
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
    raise ValueError("GIF stream has no image block")


def gif_encode(
    px: np.ndarray, interlace: bool = False, version: bytes = b"89a"
) -> bytes:
    """Encode an (h, w) uint8 GRAYSCALE image as a single-frame GIF
    with a 256-entry gray ramp palette (i, i, i) — so decode through
    the shared luma returns the input EXACTLY.  Real LZW compression;
    optional interlace writes rows in the 4-pass order."""
    h, w = px.shape
    out = bytearray(b"GIF" + version)
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x70 | 0x07, 0, 0])  # GCT, 256 entries
    out += bytes(v for i in range(256) for v in (i, i, i))
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])
    rows = px
    if interlace:
        order = [
            r for start, step in _INTERLACE for r in range(start, h, step)
        ]
        rows = px[order]
    data = lzw_encode(
        rows.astype(np.uint8).tobytes(), 256, msb_first=False, early_change=0
    )
    out += bytes([8])  # LZW minimum code size
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)
