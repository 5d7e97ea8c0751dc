"""TIFF codec, pure stdlib + numpy — the document-scan/archival format.

Seventh real format at the multimodal codec seam (PNG/BMP/WAV/Y4M/
JPEG+progressive/GIF came first): baseline TIFF 6.0 strip images, the
container of scanned-document corpora and archival imagery.

Decoder scope (the gray/RGB 8-bit strip baseline, like the other
decoders' common-case scope):
  * II (little-endian) and MM (big-endian) byte orders, first IFD only
    (multi-page files decode page 1, the GIF frame-1 discipline).
  * 8-bit grayscale (SamplesPerPixel 1) and 8-bit RGB (SamplesPerPixel
    3, chunky planar config) through the shared exact luma.
  * Compression 1 (none), 32773 (PackBits), and 5 (TIFF-flavor LZW:
    MSB-first bit packing — the OPPOSITE order of GIF's — 9→12-bit
    codes with the spec's EarlyChange quirk: the code width bumps when
    the decoder's table reaches 2^width − 1 entries, one code EARLIER
    than GIF).  The LZW codec is operators/bitstream.py's, shared with
    GIF; TIFF passes 256 roots, MSB-first, EarlyChange 1.
  * Horizontal-differencing predictor (tag 317 = 2) for LZW strips.
  * PhotometricInterpretation 0 (WhiteIsZero, inverted gray) and 1.
  * Strip layout: StripOffsets/StripByteCounts/RowsPerStrip, each
    strip an independent compression stream (state resets per strip).
  * TILED layout (round 13b — the document-scan/GeoTIFF access
    pattern): TileWidth/TileLength (multiples of 16 per spec) with
    TileOffsets/TileByteCounts, row-major tile grid, each tile an
    independent compression stream padded to full tile size at the
    right/bottom edges, predictor restarting per tile row.
  * 16-bit samples, palette color and other compressions raise
    NotImplementedError at the marked seam; corrupt streams raise
    ValueError (the codec-guard contract); MAX_PIXELS enforced
    before allocation.

Encoder: 8-bit gray, compression none/PackBits/LZW, optional
predictor, multi-strip or tiled — deterministic, the fixture writer
that makes decode exercise genuinely compressed bitstreams.

Exactness: every supported path is lossless, so encode→decode is
byte-exact and a SQL oracle can recompute stats from id arithmetic —
the same anchor the BMP/GIF fixtures use.

100 TB note: decode runs inside Arrow-batched mapInPandas at the
codec seam, per-image work independent — scales with partition
parallelism like every other blob decode.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitstream import lzw_decode, lzw_encode

TIFF_MAGIC_LE = b"II*\x00"
TIFF_MAGIC_BE = b"MM\x00*"

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I"}

# tags
_WIDTH, _LENGTH, _BPS, _COMPRESSION = 256, 257, 258, 259
_PHOTOMETRIC, _STRIP_OFFSETS, _SPP = 262, 273, 277
_ROWS_PER_STRIP, _STRIP_COUNTS, _PREDICTOR = 278, 279, 317
_TILE_WIDTH, _TILE_LENGTH, _TILE_OFFSETS, _TILE_COUNTS = 322, 323, 324, 325


def _need(raw: bytes, end: int, what: str) -> None:
    if end > len(raw):
        raise ValueError(f"truncated TIFF {what}")


def _parse_first_ifd(raw: bytes):
    """(endian, {tag: values}) for the first IFD."""
    if raw[:4] == TIFF_MAGIC_LE:
        en = "<"
    elif raw[:4] == TIFF_MAGIC_BE:
        en = ">"
    else:
        raise ValueError("not a TIFF stream")
    _need(raw, 8, "header")
    (off,) = struct.unpack(en + "I", raw[4:8])
    _need(raw, off + 2, "IFD")
    (n,) = struct.unpack(en + "H", raw[off : off + 2])
    _need(raw, off + 2 + 12 * n, "IFD entries")
    tags: dict[int, list[int]] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(en + "HHI", raw[e : e + 8])
        if typ not in _TYPE_SIZE or cnt == 0:
            # unknown field type: skip per spec; a zero-count entry
            # carries no values and must read as ABSENT, not as an
            # empty list that IndexErrors the [0] accessors
            # (robustness-fuzz finding)
            continue
        size = _TYPE_SIZE[typ] * cnt
        if size <= 4:
            data = raw[e + 8 : e + 8 + size]
        else:
            (p,) = struct.unpack(en + "I", raw[e + 8 : e + 12])
            _need(raw, p + size, f"tag {tag} values")
            data = raw[p : p + size]
        fmt = _TYPE_FMT.get(typ)
        if fmt is None:
            continue  # rational/ascii tags are irrelevant to decode
        tags[tag] = list(struct.unpack(en + fmt * cnt, data))
    return en, tags


def tiff_dims(raw: bytes) -> tuple[int, int]:
    """(width, height) from the first IFD — metadata only, no strip
    decode (the png_ihdr / jpeg_dims discipline)."""
    _, tags = _parse_first_ifd(raw)
    if _WIDTH not in tags or _LENGTH not in tags:
        raise ValueError("TIFF IFD missing ImageWidth/ImageLength")
    return tags[_WIDTH][0], tags[_LENGTH][0]


def _packbits_decode(data: bytes, n_expected: int) -> bytes:
    """Apple PackBits: n in 0..127 → copy n+1 literals; n in -127..-1
    → repeat next byte 1-n times; -128 → noop."""
    out = bytearray()
    pos = 0
    while len(out) < n_expected:
        if pos >= len(data):
            raise ValueError("truncated TIFF PackBits strip")
        n = data[pos]
        pos += 1
        if n < 128:
            if pos + n + 1 > len(data):
                raise ValueError("truncated TIFF PackBits strip")
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n > 128:
            if pos >= len(data):
                raise ValueError("truncated TIFF PackBits strip")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: noop
    return bytes(out[:n_expected])


def _packbits_encode(data: bytes) -> bytes:
    """Run-length PackBits: maximal runs ≥2 as repeats, else literals."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        # literal stretch: until the next run of >= 3 (2-runs inside a
        # literal cost nothing extra) or 128 bytes
        j = i + 1
        while j < n and j - i < 128:
            r = 1
            while j + r < n and r < 3 and data[j + r] == data[j]:
                r += 1
            if r >= 3:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def tiff_gray_pixels(raw: bytes) -> np.ndarray:
    """Decode the first TIFF page to an (h, w) uint8 grayscale ndarray
    through the shared exact integer luma — the same pixels hash
    identically across PNG/BMP/JPEG/GIF/TIFF containers."""
    from .multimodal import MAX_PIXELS, _luma_u8

    en, tags = _parse_first_ifd(raw)
    if _WIDTH not in tags or _LENGTH not in tags:
        raise ValueError("TIFF IFD missing ImageWidth/ImageLength")
    w, h = tags[_WIDTH][0], tags[_LENGTH][0]
    if w * h > MAX_PIXELS:
        raise ValueError(
            f"TIFF {w}x{h} exceeds MAX_PIXELS ({MAX_PIXELS}): lying "
            "header or oversized media (strip output is capped at the "
            "header size, so this also bounds bombs)"
        )
    spp = tags.get(_SPP, [1])[0]
    bps = tags.get(_BPS, [8])
    if spp not in (1, 3) or any(b != 8 for b in bps):
        raise NotImplementedError(
            f"TIFF spp={spp} bps={bps}: plug libtiff/PIL in here"
        )
    comp = tags.get(_COMPRESSION, [1])[0]
    if comp not in (1, 5, 32773):
        raise NotImplementedError(
            f"TIFF compression {comp}: plug libtiff/PIL in here"
        )
    photometric = tags.get(_PHOTOMETRIC, [1])[0]
    if photometric not in (0, 1, 2):
        raise NotImplementedError(
            f"TIFF photometric {photometric}: plug libtiff/PIL in here"
        )
    predictor = tags.get(_PREDICTOR, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"invalid TIFF predictor {predictor}")

    def _decompress(chunk: bytes, expected: int) -> bytes:
        if comp == 1:
            if len(chunk) < expected:
                raise ValueError("truncated TIFF strip")
            return chunk[:expected]
        if comp == 32773:
            return _packbits_decode(chunk, expected)
        return lzw_decode(
            chunk, expected, 256, msb_first=True, early_change=1,
            what="TIFF LZW strip",
        )

    def _undiff(a: np.ndarray) -> np.ndarray:
        # horizontal differencing, per sample: cumsum mod 256 along x
        return (
            a.astype(np.uint32).cumsum(axis=1) % 256
        ).astype(np.uint8)

    row_bytes = w * spp
    tiled = any(
        t in tags
        for t in (_TILE_WIDTH, _TILE_LENGTH, _TILE_OFFSETS, _TILE_COUNTS)
    )
    if tiled:
        # TILED layout (round 13b — the document-scan/GeoTIFF access
        # pattern): the image is a grid of tw x th tiles, row-major,
        # each compressed independently; EDGE tiles are padded to the
        # full tile size, and the spec requires tile dims to be
        # multiples of 16
        if _STRIP_OFFSETS in tags:
            raise ValueError("TIFF carries both strip and tile tables")
        tw = tags.get(_TILE_WIDTH, [0])[0]
        th = tags.get(_TILE_LENGTH, [0])[0]
        if tw <= 0 or th <= 0 or tw % 16 or th % 16:
            raise ValueError(f"invalid TIFF tile geometry {tw}x{th}")
        if _TILE_OFFSETS not in tags:
            raise ValueError("tiled TIFF missing TileOffsets")
        offsets = tags[_TILE_OFFSETS]
        counts = tags.get(_TILE_COUNTS)
        across, down = -(-w // tw), -(-h // th)
        if len(offsets) != across * down or (
                counts and len(counts) != across * down):
            raise ValueError("TIFF tile table does not match geometry")
        canvas = np.zeros((down * th, across * tw, spp), dtype=np.uint8)
        expected = tw * th * spp
        for ti in range(across * down):
            off = offsets[ti]
            cnt = counts[ti] if counts else len(raw) - off
            _need(raw, off + cnt, "tile data")
            tile = np.frombuffer(
                _decompress(raw[off : off + cnt], expected), dtype=np.uint8
            ).reshape(th, tw, spp)
            if predictor == 2:
                # differencing restarts on every TILE row (width tw)
                tile = _undiff(tile)
            ty, tx = divmod(ti, across)
            canvas[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw] = tile
        px = canvas[:h, :w].reshape(h, row_bytes)
    else:
        if _STRIP_OFFSETS not in tags:
            raise ValueError("TIFF IFD missing StripOffsets")
        offsets = tags[_STRIP_OFFSETS]
        counts = tags.get(_STRIP_COUNTS)
        rps = tags.get(_ROWS_PER_STRIP, [h])[0]
        if rps <= 0:
            raise ValueError("invalid TIFF RowsPerStrip")
        n_strips = -(-h // rps)
        if len(offsets) != n_strips or (counts and len(counts) != n_strips):
            raise ValueError("TIFF strip table does not match RowsPerStrip")
        body = bytearray()
        for si in range(n_strips):
            rows = min(rps, h - si * rps)
            off = offsets[si]
            cnt = counts[si] if counts else len(raw) - off
            _need(raw, off + cnt, "strip data")
            body += _decompress(raw[off : off + cnt], rows * row_bytes)
        px = np.frombuffer(bytes(body), dtype=np.uint8).reshape(h, row_bytes)
        if predictor == 2:
            px = _undiff(px.reshape(h, w, spp)).reshape(h, row_bytes)
    if spp == 3:
        return _luma_u8(px.reshape(h, w, 3))
    if photometric == 0:  # WhiteIsZero
        return (255 - px).astype(np.uint8)
    return px.copy()


def tiff_encode(
    px: np.ndarray,
    compression: str = "lzw",
    rows_per_strip: int | None = None,
    predictor: bool = False,
    big_endian: bool = False,
    tile: tuple[int, int] | None = None,
) -> bytes:
    """Encode (h, w) gray uint8 to baseline TIFF 6.0.

    Deterministic fixture writer: compression 'none' | 'packbits' |
    'lzw', optional horizontal-differencing ``predictor`` (LZW only,
    as in practice), multi-strip via ``rows_per_strip`` OR the TILED
    layout via ``tile=(tw, th)`` (dims must be multiples of 16; edge
    tiles zero-padded per spec, round 13b), and both byte orders.
    All paths are lossless — decode returns the input byte-exactly."""
    if px.ndim != 2 or px.dtype != np.uint8:
        raise ValueError("tiff_encode takes (h, w) uint8 gray")
    comp_id = {"none": 1, "packbits": 32773, "lzw": 5}[compression]
    if predictor and compression != "lzw":
        raise ValueError("predictor is only wired for LZW strips")
    if tile is not None and rows_per_strip is not None:
        raise ValueError("tile and rows_per_strip are mutually exclusive")
    h, w = px.shape
    en = ">" if big_endian else "<"

    def _diff(rows: np.ndarray) -> np.ndarray:
        return np.concatenate(
            [rows[:, :1], np.diff(rows.astype(np.int16), axis=1) % 256],
            axis=1,
        ).astype(np.uint8)

    def _compress(data: bytes) -> bytes:
        if comp_id == 1:
            return data
        if comp_id == 32773:
            return _packbits_encode(data)
        return lzw_encode(data, 256, msb_first=True, early_change=1)

    strips = []
    if tile is not None:
        tw, th = tile
        if tw <= 0 or th <= 0 or tw % 16 or th % 16:
            raise ValueError(f"tile dims must be multiples of 16: {tile}")
        across, down = -(-w // tw), -(-h // th)
        padded = np.zeros((down * th, across * tw), dtype=np.uint8)
        padded[:h, :w] = px
        for ti in range(across * down):
            ty, tx = divmod(ti, across)
            t = padded[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw]
            if predictor:
                t = _diff(t)
            strips.append(_compress(t.tobytes()))
    else:
        rps = rows_per_strip or h
        n_strips = -(-h // rps)
        for si in range(n_strips):
            rows = px[si * rps : (si + 1) * rps]
            if predictor:
                rows = _diff(rows)
            strips.append(_compress(rows.tobytes()))

    # layout: header(8) | strip data | IFD | out-of-line tag values
    header = (TIFF_MAGIC_BE if big_endian else TIFF_MAGIC_LE)
    data_start = 8
    offsets = []
    pos = data_start
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    ifd_off = pos + (pos & 1)  # word-align the IFD

    entries = []  # (tag, type, count, packed-value-or-None, values)

    def short(tag, v):
        entries.append((tag, 3, 1, struct.pack(en + "HH", v, 0)))

    def long_(tag, v):
        entries.append((tag, 4, 1, struct.pack(en + "I", v)))

    extra = bytearray()

    def longs(tag, vals):
        if len(vals) == 1:
            long_(tag, vals[0])
        else:
            entries.append((tag, 4, len(vals), None, list(vals)))

    short(_WIDTH, w)
    short(_LENGTH, h)
    short(_BPS, 8)
    short(_COMPRESSION, comp_id)
    short(_PHOTOMETRIC, 1)  # BlackIsZero
    short(_SPP, 1)
    if tile is not None:
        short(_TILE_WIDTH, tile[0])
        short(_TILE_LENGTH, tile[1])
        longs(_TILE_OFFSETS, offsets)
        longs(_TILE_COUNTS, [len(s) for s in strips])
    else:
        longs(_STRIP_OFFSETS, offsets)
        short(_ROWS_PER_STRIP, rps)
        longs(_STRIP_COUNTS, [len(s) for s in strips])
    if predictor:
        short(_PREDICTOR, 2)
    entries.sort(key=lambda e: e[0])  # spec: ascending tag order
    n_entries = len(entries)
    # out-of-line arrays live after the IFD
    tail_off = ifd_off + 2 + 12 * n_entries + 4
    ifd = bytearray(struct.pack(en + "H", n_entries))
    for ent in entries:
        if ent[3] is not None:
            tag, typ, cnt, packed = ent[:4]
            val = packed
        else:
            tag, typ, cnt, _, vals = ent
            val = struct.pack(en + "I", tail_off + len(extra))
            extra += struct.pack(en + "I" * cnt, *vals)
        ifd += struct.pack(en + "HHI", tag, typ, cnt) + val
    ifd += struct.pack(en + "I", 0)  # no next IFD

    out = bytearray(header)
    out += struct.pack(en + "I", ifd_off)
    for s in strips:
        out += s
    if ifd_off > pos:
        out += b"\x00" * (ifd_off - pos)
    out += ifd
    out += extra
    return bytes(out)
