"""Baseline JPEG codec, pure stdlib + numpy — the compressed-image seam.

Round-9 verdict kept "real media codecs beyond PNG" as the residual
north-star gap; PNG/BMP/WAV/Y4M closed the uncompressed formats.  This
module closes the COMPRESSED image third: a spec-faithful baseline JFIF
decoder (ITU-T T.81 sequential DCT, Huffman entropy coding) and a
deterministic baseline encoder used as the fixture writer and as a real
thumbnail sink.

Decoder scope (the common case, like png_gray_pixels' 8-bit scope):
  * SOF0/SOF1 (baseline / extended sequential), 8-bit precision,
    1 or 3 components, any sampling factors (4:4:4, 4:2:0, 4:2:2, ...),
    restart markers (DRI/RSTn), byte-stuffed entropy data.
  * SOF2 PROGRESSIVE (round 11): full T.81 Annex-G multi-scan decode —
    spectral selection, successive approximation (DC first/refine, AC
    first with EOBRUN, the G.1.2.3 AC refinement pass with
    correction-bit buffering), interleaved and non-interleaved scans —
    plus a progressive ENCODER (libjpeg-shaped default scan script)
    used as the fixture writer; progressive coding is a lossless
    reordering of the quantized coefficients, so progressive decode of
    jpeg_encode_progressive(px, q) equals baseline decode of
    jpeg_encode(px, q) pixel for pixel (the differential test anchor).
  * Arithmetic coding (SOF9+), lossless (SOF3), 12-bit precision and
    16-bit quant tables raise NotImplementedError — the marked seam
    where libjpeg-turbo/PIL plug in; decoding them as baseline would
    produce garbage pixels and wrong near-dup pairs (the PNG-interlace
    lesson).

Encoder scope: 8-bit gray or RGB (JFIF YCbCr), quality-scaled Annex-K
style quantization via the libjpeg quality formula, optional 4:2:0
subsampling and restart intervals.  Entropy tables are fixed-length
canonical Huffman tables (4-bit DC / 8-bit AC codes) — deliberately
suboptimal but VALID (they ride in the DHT segments, so any conformant
decoder reads them); this keeps the encoder free of the 162-entry
Annex-K AC tables while staying bit-deterministic, which is what a
fixture writer and an oracle-checked pipeline need.

Bitstream: entropy bits go through operators/bitstream.py.  The T.81
byte step is the only bitstream code here: FF00 unstuffing (any other
FFxx inside entropy data is a marker and an error) as the shared
reader's byte fetch, RSTn resynchronisation, and FF->FF00 stuffing with
1-bit padding over the shared writer's bytes.

Exactness anchor: at quality=100 every quant divisor is 1, and for a
SOLID 8×8 block the FDCT is DC-only with an integer DC (8·(v−128)), so
encode→decode of a solid-gray image is EXACT — the property the
driver-checked oracle pins (a real entropy-coded bitstream whose decode
the SQL oracle recomputes from id arithmetic).

100 TB note: decode runs inside Arrow-batched mapInPandas at the
multimodal codec seam (bytes in, pixels/stats out, no driver hop);
per-image work is independent, so the operator scales with partition
parallelism like every other blob decode.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitstream import BitReader, BitWriter

# --- shared tables -----------------------------------------------------------

# zigzag scan: position k in the scan -> raster index in the 8x8 block
# (generated from the diagonal walk, T.81 Figure 5, rather than
# hand-typed — less error-prone and self-documenting)
_ZZ: list[int] = []
for _s in range(15):
    for _r in range(_s, -1, -1) if _s % 2 == 0 else range(0, _s + 1):
        _c = _s - _r
        if _r < 8 and _c < 8:
            _ZZ.append(_r * 8 + _c)
assert len(_ZZ) == 64 and _ZZ[:6] == [0, 1, 8, 16, 9, 2]

# orthonormal 1-D DCT-II basis; 2-D: X = C @ x @ C.T, x = C.T @ X @ C
_DCT = np.array(
    [
        [
            (1.0 / np.sqrt(8.0) if u == 0 else 0.5)
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# Annex-K base luminance / chrominance quant tables (quality scaling
# below); these are DATA carried in DQT, not entropy-table trivia —
# both encoder and any decoder read them from the stream.
_Q_LUM = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_Q_CHR = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


def _quality_table(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: q=50 is the base table, q=100 all-1s."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


# --- Huffman -----------------------------------------------------------------


def _build_decode_table(counts: list[int], symbols: bytes) -> dict:
    """Canonical JPEG Huffman: {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _build_encode_table(counts: list[int], symbols: bytes) -> dict:
    """Inverse of the above: {symbol: (length, code)}."""
    return {
        sym: (ln, code)
        for (ln, code), sym in _build_decode_table(counts, symbols).items()
    }


# fixed-length canonical tables for the ENCODER (see module docstring):
# DC symbols 0..11 as 4-bit codes, AC symbols (all run/size pairs that
# baseline allows) as 8-bit codes.  Valid prefix codes, all-ones code
# unused, carried verbatim in DHT — any decoder reads them back.
_ENC_DC_COUNTS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_DC_SYMBOLS = bytes(range(12))
_ENC_AC_SYMBOLS = bytes(
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_AC_COUNTS = [0] * 16
_ENC_AC_COUNTS[7] = len(_ENC_AC_SYMBOLS)  # all 8-bit
assert len(_ENC_AC_SYMBOLS) == 162


def _entropy_byte(r: BitReader) -> int:
    """The T.81 byte fetch for operators/bitstream.py's reader: FF00 is
    a stuffed FF data byte, any other FFxx is a marker inside the
    entropy data and an error."""
    data, p = r.data, r.pos
    if p >= len(data):
        raise ValueError("truncated entropy data")
    b = data[p]
    if b == 0xFF:
        if p + 1 >= len(data):
            raise ValueError("truncated entropy data")
        if data[p + 1] != 0x00:
            raise ValueError(f"marker FF{data[p + 1]:02X} inside entropy data")
        p += 1
    r.pos = p + 1
    return b


def _receive_extend(br: BitReader, size: int) -> int:
    """T.81 RECEIVE + EXTEND: size bits -> signed coefficient."""
    if size == 0:
        return 0
    v = br.u(size)
    if v < (1 << (size - 1)):
        v -= (1 << size) - 1
    return v


def _decode_symbol(br: BitReader, table: dict) -> int:
    bit, get = br.bit, table.get
    code = 0
    for length in range(1, 17):
        code = (code << 1) | bit()
        sym = get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy data")


def _sync_restart(br: BitReader, n: int) -> None:
    """Byte-align and consume the expected RSTn marker."""
    br.align()
    data, p = br.data, br.pos
    if p + 2 > len(data):
        raise ValueError("truncated entropy data at restart marker")
    if data[p] != 0xFF or data[p + 1] != 0xD0 + n % 8:
        raise ValueError(
            f"expected RST{n % 8} at offset {p}, got "
            f"{data[p]:02X}{data[p + 1]:02X}"
        )
    br.pos = p + 2


# --- decoder -----------------------------------------------------------------

JPEG_MAGIC = b"\xff\xd8"

_NOT_BASELINE = {
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "arithmetic differential (SOF13)",
    0xCE: "arithmetic differential (SOF14)",
    0xCF: "arithmetic differential (SOF15)",
}


def jpeg_dims(raw: bytes) -> tuple[int, int]:
    """(width, height) from the frame header — metadata only, no
    entropy decode (png_ihdr / bmp_dims discipline)."""
    for marker, payload, _ in _jpeg_segments(raw):
        if marker in (0xC0, 0xC1, 0xC2) or marker in _NOT_BASELINE:
            h, w = struct.unpack(">HH", payload[1:5])
            return w, h
    raise ValueError("JPEG stream has no frame header")


def _jpeg_segments(raw: bytes):
    """Yield (marker, payload, next_pos) up to and including SOS.
    Truncations at every position raise ValueError, never
    IndexError/struct.error (the codec-guard exception contract)."""
    if raw[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG stream")
    pos = 2
    n = len(raw)
    while pos < n:
        if raw[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        while pos < n and raw[pos] == 0xFF:  # fill bytes are legal
            pos += 1
        if pos >= n:
            raise ValueError("truncated JPEG stream at marker")
        marker = raw[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            return
        if 0xD0 <= marker <= 0xD7:  # bare RSTn (shouldn't be here)
            continue
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment length")
        (length,) = struct.unpack(">H", raw[pos : pos + 2])
        payload = raw[pos + 2 : pos + length]
        if len(payload) != max(length - 2, 0):
            raise ValueError("truncated JPEG segment")
        pos += length
        yield marker, payload, pos
        if marker == 0xDA:  # SOS: entropy data follows, caller takes over
            return


def _parse_dqt(payload: bytes, qtabs: dict) -> None:
    p = 0
    while p < len(payload):
        pq, tq = payload[p] >> 4, payload[p] & 15
        if pq != 0:
            raise NotImplementedError(
                "16-bit quant tables: plug libjpeg/PIL in here"
            )
        zz = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8).astype(
            np.int64
        )
        if len(zz) != 64:
            raise ValueError("truncated DQT segment")
        tab = np.zeros(64, dtype=np.int64)
        tab[_ZZ] = zz  # DQT stores zigzag order
        qtabs[tq] = tab
        p += 65


def _parse_dht(payload: bytes, dc_tabs: dict, ac_tabs: dict) -> None:
    p = 0
    while p < len(payload):
        tc, th = payload[p] >> 4, payload[p] & 15
        counts = list(payload[p + 1 : p + 17])
        nsym = sum(counts)
        symbols = payload[p + 17 : p + 17 + nsym]
        if len(counts) != 16 or len(symbols) != nsym:
            raise ValueError("truncated DHT segment")
        (dc_tabs if tc == 0 else ac_tabs)[th] = _build_decode_table(
            counts, symbols
        )
        p += 17 + nsym


def _parse_sof(payload: bytes) -> tuple[int, int, list[dict]]:
    if len(payload) < 6:
        raise ValueError("truncated SOF segment")
    precision = payload[0]
    if precision != 8:
        raise NotImplementedError(
            f"JPEG precision {precision}: plug libjpeg/PIL in here"
        )
    h, w = struct.unpack(">HH", payload[1:5])
    nc = payload[5]
    if len(payload) < 6 + 3 * nc:
        raise ValueError("truncated SOF segment")
    if w < 1 or h < 1 or nc < 1:
        raise ValueError(f"invalid JPEG frame {w}x{h} nc={nc}")
    comps = []
    for i in range(nc):
        cid, hv, tq = payload[6 + 3 * i : 9 + 3 * i]
        sh, sv = hv >> 4, hv & 15
        if not (1 <= sh <= 4 and 1 <= sv <= 4):  # T.81 B.2.2
            raise ValueError(f"invalid sampling factors {sh}x{sv}")
        comps.append({"id": cid, "h": sh, "v": sv, "tq": tq})
    from .multimodal import MAX_PIXELS

    if w * h > MAX_PIXELS:
        raise ValueError(
            f"JPEG {w}x{h} exceeds MAX_PIXELS ({MAX_PIXELS}): lying "
            "header or oversized media — route to the libjpeg seam"
        )
    return w, h, comps


def _finish_planes(
    planes: dict, comps: list[dict], w: int, h: int
) -> np.ndarray:
    """Upsample subsampled planes, crop to (h, w), color-convert —
    shared by the sequential and progressive decode paths."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(
            np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        out.append(p[:h, :w])
    if len(out) == 1:
        return np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )


def jpeg_decode(raw: bytes) -> np.ndarray:
    """Decode a baseline OR progressive JFIF stream to (h, w) gray
    uint8 (1 component) or (h, w, 3) RGB uint8 (3 components, JFIF
    YCbCr).  Sequential (SOF0/SOF1) streams take the single-scan path
    below; progressive (SOF2) streams take the multi-scan
    spectral-selection / successive-approximation path."""
    # probe the frame type first: SOF2 routes to the multi-scan decoder
    for marker, payload, _ in _jpeg_segments(raw):
        if marker == 0xC2:
            return _jpeg_decode_progressive(raw)
        if marker in (0xC0, 0xC1):
            break
        if marker in _NOT_BASELINE:
            raise NotImplementedError(
                f"JPEG {_NOT_BASELINE[marker]}: plug libjpeg/PIL in here"
            )
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    dri = 0
    scan = None
    scan_pos = -1
    for marker, payload, nxt in _jpeg_segments(raw):
        if marker in _NOT_BASELINE:
            raise NotImplementedError(
                f"JPEG {_NOT_BASELINE[marker]}: plug libjpeg/PIL in here"
            )
        if marker == 0xDB:  # DQT (possibly several tables)
            _parse_dqt(payload, qtabs)
        elif marker == 0xC4:  # DHT (possibly several tables)
            _parse_dht(payload, dc_tabs, ac_tabs)
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1
            frame = _parse_sof(payload)
        elif marker == 0xDD:  # DRI
            if len(payload) < 2:
                raise ValueError("truncated DRI segment")
            (dri,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:  # SOS
            if len(payload) < 1 or len(payload) < 1 + 2 * payload[0]:
                raise ValueError("truncated SOS segment")
            ns = payload[0]
            scan = []
            for i in range(ns):
                cs = payload[1 + 2 * i]
                td, ta = payload[2 + 2 * i] >> 4, payload[2 + 2 * i] & 15
                scan.append((cs, td, ta))
            scan_pos = nxt
    if frame is None or scan is None:
        raise ValueError("JPEG stream missing SOF or SOS")
    w, h, comps = frame
    by_id = {c["id"]: c for c in comps}
    # validate every id the scan references BEFORE entropy decode: a
    # corrupt stream must raise ValueError, not KeyError (codec-guard
    # exception contract)
    for cs, td, ta in scan:
        if cs not in by_id:
            raise ValueError(f"scan references undefined component {cs}")
        if td not in dc_tabs or ta not in ac_tabs:
            raise ValueError(
                f"scan references undefined Huffman table dc={td} ac={ta}"
            )
    for c in comps:
        if c["tq"] not in qtabs:
            raise ValueError(
                f"component {c['id']} references undefined quant "
                f"table {c['tq']}"
            )
    order = [by_id[cs] for cs, _, _ in scan]
    tabs = {cs: (td, ta) for cs, td, ta in scan}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {
        c["id"]: np.zeros(
            (mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64
        )
        for c in comps
    }
    preds = {c["id"]: 0 for c in comps}
    br = BitReader(raw, scan_pos, fetch=_entropy_byte)
    n_rst = 0
    for mi in range(mcux * mcuy):
        if dri and mi and mi % dri == 0:
            _sync_restart(br, n_rst)
            n_rst += 1
            preds = {c["id"]: 0 for c in comps}
        my, mx = divmod(mi, mcux)
        for c in order:
            td, ta = tabs[c["id"]]
            q = qtabs[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coef = np.zeros(64, dtype=np.float64)
                    size = _decode_symbol(br, dc_tabs[td])
                    preds[c["id"]] += _receive_extend(br, size)
                    coef[0] = preds[c["id"]] * q[0]
                    k = 1
                    while k < 64:
                        rs = _decode_symbol(br, ac_tabs[ta])
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC coefficient overrun")
                        coef[_ZZ[k]] = _receive_extend(br, s) * q[_ZZ[k]]
                        k += 1
                    block = _DCT.T @ coef.reshape(8, 8) @ _DCT + 128.0
                    r0 = (my * c["v"] + by) * 8
                    c0 = (mx * c["h"] + bx) * 8
                    planes[c["id"]][r0 : r0 + 8, c0 : c0 + 8] = block
    return _finish_planes(planes, comps, w, h)


# --- progressive decoder (SOF2: spectral selection + successive
# approximation, T.81 Annex G) ------------------------------------------------


def _prog_dc_first(br, dc_tab, coef, pred: int, al: int) -> int:
    size = _decode_symbol(br, dc_tab)
    pred += _receive_extend(br, size)
    coef[0] = pred << al
    return pred


def _prog_ac_first(br, ac_tab, coef, ss, se, al, eobrun: int) -> int:
    """First pass over an AC band: run-length + EOBRUN (T.81 G.1.2.2)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_symbol(br, ac_tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.u(r)
            break
        k += r
        if k > se:
            raise ValueError("AC coefficient overrun in progressive scan")
        coef[k] = _receive_extend(br, s) << al
        k += 1
    return eobrun


def _prog_ac_refine(br, ac_tab, coef, ss, se, al, eobrun: int) -> int:
    """Refinement pass over an AC band (T.81 G.1.2.3): one correction
    bit per already-nonzero coefficient crossed, ±1<<Al for newly
    nonzero ones, EOBRUN covering trailing correction-only blocks."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_symbol(br, ac_tab)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.u(r)
                    break
                # ZRL: skip 16 zero-history positions below
            else:
                if s != 1:
                    raise ValueError(
                        "invalid coefficient magnitude in AC refinement"
                    )
                val = p1 if br.bit() else m1
            # advance: correction bits on nonzero-history coefficients,
            # consume r zero-history slots
            while k <= se:
                if coef[k] != 0:
                    if br.bit() and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s:
                if k > se:
                    raise ValueError(
                        "AC coefficient overrun in refinement scan"
                    )
                coef[k] = val
            k += 1
    if eobrun > 0:
        # this block is inside the EOB run: correction bits only
        while k <= se:
            if coef[k] != 0:
                if br.bit() and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_decode_progressive(raw: bytes) -> np.ndarray:
    """Multi-scan SOF2 decode: coefficients accumulate across scans in
    zigzag order, dequantize + IDCT once at the end."""
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    dri = 0
    coefs: dict[int, np.ndarray] = {}
    geom: dict = {}
    n = len(raw)
    if raw[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG stream")
    pos = 2
    while pos < n:
        # resync to the next marker (tolerates pad bytes after a scan)
        while pos < n and raw[pos] != 0xFF:
            pos += 1
        while pos < n and raw[pos] == 0xFF:  # fill bytes are legal
            pos += 1
        if pos >= n:
            raise ValueError("truncated JPEG stream")
        marker = raw[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7:  # stray RSTn between scans
            continue
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment")
        (length,) = struct.unpack(">H", raw[pos : pos + 2])
        payload = raw[pos + 2 : pos + length]
        if len(payload) != length - 2:
            raise ValueError("truncated JPEG segment")
        seg_end = pos + length
        if marker in _NOT_BASELINE:
            raise NotImplementedError(
                f"JPEG {_NOT_BASELINE[marker]}: plug libjpeg/PIL in here"
            )
        if marker == 0xDB:
            _parse_dqt(payload, qtabs)
        elif marker == 0xC4:
            _parse_dht(payload, dc_tabs, ac_tabs)
        elif marker == 0xC2:
            frame = _parse_sof(payload)
            w, h, comps = frame
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            geom = {
                "w": w,
                "h": h,
                "comps": comps,
                "by_id": {c["id"]: c for c in comps},
                "mcux": -(-w // (8 * hmax)),
                "mcuy": -(-h // (8 * vmax)),
            }
            for c in comps:
                # full interleaved grid; non-interleaved scans touch
                # the top-left ceil(comp/8) region of it
                coefs[c["id"]] = np.zeros(
                    (geom["mcuy"] * c["v"], geom["mcux"] * c["h"], 64),
                    dtype=np.int64,
                )
                cw = -(-(w * c["h"]) // hmax)
                ch = -(-(h * c["v"]) // vmax)
                c["bx"] = -(-cw // 8)
                c["by"] = -(-ch // 8)
        elif marker in (0xC0, 0xC1):
            raise ValueError("mixed SOF markers in one JPEG stream")
        elif marker == 0xDD:
            if len(payload) < 2:
                raise ValueError("truncated DRI segment")
            (dri,) = struct.unpack(">H", payload[:2])
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG scan before frame header")
            pos = _prog_scan(
                raw, seg_end, payload, geom, coefs,
                dc_tabs, ac_tabs, dri,
            )
            continue
        pos = seg_end
    if frame is None or not coefs:
        raise ValueError("JPEG stream missing SOF or SOS")
    w, h, comps = frame
    planes = {}
    for c in comps:
        if c["tq"] not in qtabs:
            raise ValueError(
                f"component {c['id']} references undefined quant "
                f"table {c['tq']}"
            )
        q = qtabs[c["tq"]]
        zz = coefs[c["id"]]
        nat = np.zeros_like(zz)
        nat[:, :, _ZZ] = zz * q[_ZZ]
        hb, wb = nat.shape[:2]
        blocks = nat.reshape(hb, wb, 8, 8).astype(np.float64)
        px = np.einsum("ij,hwjk,kl->hwil", _DCT.T, blocks, _DCT) + 128.0
        planes[c["id"]] = px.transpose(0, 2, 1, 3).reshape(hb * 8, wb * 8)
    return _finish_planes(planes, comps, w, h)


def _prog_scan(
    raw: bytes,
    entropy_pos: int,
    payload: bytes,
    geom: dict,
    coefs: dict,
    dc_tabs: dict,
    ac_tabs: dict,
    dri: int,
) -> int:
    """Decode one progressive scan; returns the stream position after
    its entropy data."""
    ns = payload[0]
    if len(payload) < 4 + 2 * ns:
        raise ValueError("truncated SOS segment")
    scomps = []
    for i in range(ns):
        cs = payload[1 + 2 * i]
        td, ta = payload[2 + 2 * i] >> 4, payload[2 + 2 * i] & 15
        if cs not in geom["by_id"]:
            raise ValueError(f"scan references undefined component {cs}")
        scomps.append((geom["by_id"][cs], td, ta))
    ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
    ahal = payload[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 15
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > se or se > 63:
        raise ValueError(f"invalid spectral band {ss}..{se}")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scans must be single-component")
    br = BitReader(raw, entropy_pos, fetch=_entropy_byte)
    n_rst = 0
    if ss == 0:
        # DC scan, interleaved over MCUs (or the single comp's grid)
        if ah == 0:
            for c, td, _ in scomps:
                if td not in dc_tabs:
                    raise ValueError(
                        f"scan references undefined Huffman table dc={td}"
                    )
        # restart-interval units: MCUs when interleaved, else blocks
        if ns > 1:
            units = [
                [
                    (c, td, my * c["v"] + by, mx * c["h"] + bx)
                    for c, td, _ in scomps
                    for by in range(c["v"])
                    for bx in range(c["h"])
                ]
                for my in range(geom["mcuy"])
                for mx in range(geom["mcux"])
            ]
        else:
            c, td, _ = scomps[0]
            units = [
                [(c, td, by, bx)] for by in range(c["by"]) for bx in range(c["bx"])
            ]
        preds = {c["id"]: 0 for c, _, _ in scomps}
        for ui, unit in enumerate(units):
            if dri and ui and ui % dri == 0:
                _sync_restart(br, n_rst)
                n_rst += 1
                preds = {c["id"]: 0 for c, _, _ in scomps}
            for c, td, by, bx in unit:
                coef = coefs[c["id"]][by, bx]
                if ah == 0:
                    preds[c["id"]] = _prog_dc_first(
                        br, dc_tabs[td], coef, preds[c["id"]], al
                    )
                elif br.bit():
                    coef[0] |= 1 << al
    else:
        # AC scan: single component, non-interleaved block order
        c, _, ta = scomps[0]
        if ta not in ac_tabs:
            raise ValueError(
                f"scan references undefined Huffman table ac={ta}"
            )
        tab = ac_tabs[ta]
        eobrun = 0
        for bi in range(c["by"] * c["bx"]):
            if dri and bi and bi % dri == 0:
                _sync_restart(br, n_rst)
                n_rst += 1
                eobrun = 0
            by, bx = divmod(bi, c["bx"])
            coef = coefs[c["id"]][by, bx]
            if ah == 0:
                eobrun = _prog_ac_first(br, tab, coef, ss, se, al, eobrun)
            else:
                eobrun = _prog_ac_refine(br, tab, coef, ss, se, al, eobrun)
    return br.pos


# --- encoder -----------------------------------------------------------------

# progressive AC table: the sequential AC symbols plus the EOBn family
# (r<<4 | 0 for r = 1..14 — EOB runs of 2..32767 blocks); still one
# fixed-length canonical table (176 symbols, all 8-bit) carried in DHT
_ENC_ACP_SYMBOLS = bytes(
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_ACP_COUNTS = [0] * 16
_ENC_ACP_COUNTS[7] = len(_ENC_ACP_SYMBOLS)
assert len(_ENC_ACP_SYMBOLS) == 176


def _entropy_bytes(bw: BitWriter) -> bytes:
    """The writer's bits as T.81 entropy data: padded with 1s to the
    byte boundary, every FF byte stuffed as FF00."""
    bw.align(1)
    return bw.to_bytes().replace(b"\xff", b"\xff\x00")


def _mag(v: int) -> tuple[int, int]:
    """(size, appended-bits) for a signed coefficient (T.81 F.1.2.1)."""
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _encode_block(
    bw: BitWriter,
    block: np.ndarray,
    q: np.ndarray,
    pred: int,
    dc_tab: dict,
    ac_tab: dict,
) -> int:
    coef2 = _DCT @ (block.astype(np.float64) - 128.0) @ _DCT.T
    coef = np.round(coef2.reshape(64) / q).astype(np.int64)
    dc = int(coef[0])
    size, bits = _mag(dc - pred)
    ln, code = dc_tab[size]
    bw.u(code, ln)
    bw.u(bits, size)
    if _encode_ac_runs(bw, ac_tab, coef[_ZZ][1:]):
        ln, code = ac_tab[0x00]  # EOB
        bw.u(code, ln)
    return dc


def _encode_ac_runs(bw: BitWriter, ac_tab: dict, tv: np.ndarray) -> bool:
    """Write the run/size symbol (ZRL first for runs past 15) and the
    appended bits of each nonzero coefficient of ``tv``; True when
    zeros follow the last one, which the caller ends with an EOB."""
    run = 0
    for x in tv.tolist():
        if x == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_tab[0xF0]  # ZRL
            bw.u(code, ln)
            run -= 16
        size, bits = _mag(x)
        if size > 10:
            raise ValueError("AC coefficient out of baseline range")
        ln, code = ac_tab[(run << 4) | size]
        bw.u(code, ln)
        bw.u(bits, size)
        run = 0
    return run > 0


def _prep_planes(px: np.ndarray, quality: int, subsample: bool):
    """Shared encoder prep: color transform, box-mean subsample, edge
    padding to the MCU grid.  Returns (gray, samp, qsel, qy, qc,
    prepped_planes, (hmax, vmax, mcux, mcuy))."""
    gray = px.ndim == 2
    h, w = px.shape[:2]
    qy = _quality_table(_Q_LUM, quality)
    qc = _quality_table(_Q_CHR, quality)
    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        rgb = px.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
        samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
        qsel = [0, 1, 1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    prepped = []
    for (sh, sv), p in zip(samp, planes):
        if (sh, sv) != (hmax, vmax):  # box-mean subsample
            fy, fx = vmax // sv, hmax // sh
            ph, pw = -(-h // fy) * fy, -(-w // fx) * fx
            padded = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            p = padded.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th, tw = mcuy * sv * 8, mcux * sh * 8
        p = np.pad(
            p,
            ((0, th - p.shape[0]), (0, tw - p.shape[1])),
            mode="edge",
        )
        prepped.append(p)
    return gray, samp, qsel, qy, qc, prepped, (hmax, vmax, mcux, mcuy)


def _headers(sof, px, samp, qsel, qy, qc, ac_counts, ac_symbols) -> bytearray:
    """SOI, JFIF APP0, DQT, the SOFn frame header and the DC/AC DHT
    segments: everything both encoders write before their scans."""
    h, w = px.shape[:2]
    gray = px.ndim == 2
    out = bytearray(b"\xff\xd8")  # SOI
    # APP0/JFIF v1.1: density unit 0 with 1:1 aspect, no thumbnail
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for tq, tab in ((0, qy),) + (() if gray else ((1, qc),)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(
            int(tab[_ZZ[k]]) for k in range(64)
        )
    nc = 1 if gray else 3
    out += bytes([0xFF, sof]) + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for i in range(nc):
        out += bytes([i + 1, (samp[i][0] << 4) | samp[i][1], qsel[i]])
    for tc_th, counts, syms in (
        (0x00, _ENC_DC_COUNTS, _ENC_DC_SYMBOLS),
        (0x10, ac_counts, ac_symbols),
    ):
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + len(syms), tc_th
        ) + bytes(counts) + syms
    return out


def jpeg_encode(
    px: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w) gray or (h, w, 3) RGB uint8 to baseline JFIF.

    Deterministic: fixed canonical entropy tables (module docstring),
    quality-scaled Annex-K quantization, optional 4:2:0 ``subsample``
    and DRI ``restart_interval`` (in MCUs).  quality=100 → all quant
    divisors 1, so solid blocks round-trip EXACTLY."""
    gray, samp, qsel, qy, qc, prepped, geo = _prep_planes(
        px, quality, subsample
    )
    hmax, vmax, mcux, mcuy = geo
    nc = 1 if gray else 3
    out = _headers(
        0xC0, px, samp, qsel, qy, qc, _ENC_AC_COUNTS, _ENC_AC_SYMBOLS
    )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for i in range(nc):
        out += bytes([i + 1, 0x00])  # DC table 0, AC table 0 for all
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0
    dc_tab = _build_encode_table(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_tab = _build_encode_table(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)
    bw = BitWriter()
    preds = [0] * nc
    n_rst = 0
    for mi in range(mcux * mcuy):
        if restart_interval and mi and mi % restart_interval == 0:
            out += _entropy_bytes(bw) + bytes([0xFF, 0xD0 + n_rst % 8])
            bw = BitWriter()
            n_rst += 1
            preds = [0] * nc
        my, mx = divmod(mi, mcux)
        for ci in range(nc):
            sh, sv = samp[ci]
            q = qy if qsel[ci] == 0 else qc
            for by in range(sv):
                for bx in range(sh):
                    r0 = (my * sv + by) * 8
                    c0 = (mx * sh + bx) * 8
                    preds[ci] = _encode_block(
                        bw,
                        prepped[ci][r0 : r0 + 8, c0 : c0 + 8],
                        q,
                        preds[ci],
                        dc_tab,
                        ac_tab,
                    )
    out += _entropy_bytes(bw)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- progressive encoder (SOF2) ----------------------------------------------


def _quantized_zz(prepped, samp, qsel, qy, qc) -> list:
    """Per-component (by, bx, 64) int64 quantized coefficients in
    ZIGZAG order over the MCU-padded grid.

    Computed per block with the EXACT op order of _encode_block
    (_DCT @ x @ _DCT.T then round) — a batched einsum changes float
    summation order, and np.round then flips knife-edge .5
    coefficients, breaking the progressive==baseline differential
    anchor (observed: 1-coef difference on a 129x65 gradient)."""
    out = []
    for ci, p in enumerate(prepped):
        q = qy if qsel[ci] == 0 else qc
        th, tw = p.shape
        by, bx = th // 8, tw // 8
        quant = np.zeros((by, bx, 64), dtype=np.int64)
        for r in range(by):
            for c in range(bx):
                block = p[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8]
                coef2 = _DCT @ (block - 128.0) @ _DCT.T
                quant[r, c] = np.round(coef2.reshape(64) / q).astype(np.int64)
        out.append(quant[..., _ZZ])
    return out


def _pt_ac(v: np.ndarray, al: int) -> np.ndarray:
    """AC point transform: divide by 2^Al truncating the MAGNITUDE
    (T.81 G.1.2.2) — NOT an arithmetic shift for negatives."""
    return np.sign(v) * (np.abs(v) >> al)


def default_progressive_scans(gray: bool) -> list:
    """The libjpeg-style default scan script: DC first (Al=1), luma AC
    in two spectral bands at Al=2, chroma AC full-band at Al=1, then
    successive-approximation refinements down to Al=0.  Exercises every
    progressive decode path: interleaved/non-interleaved DC, AC first
    with EOBRUN, AC refinement, DC refinement."""
    if gray:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([2], 1, 63, 0, 1),
        ([1], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([0], 1, 63, 1, 0),
    ]


class _EobState:
    """Pending EOB run + the refinement correction bits that ride
    behind the EOBn symbol (T.81 G.1.2.3 encode side)."""

    def __init__(self, bw: BitWriter, ac_tab: dict):
        self.bw = bw
        self.ac_tab = ac_tab
        self.eobrun = 0
        self.bits: list[int] = []

    def flush(self) -> None:
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            ln, code = self.ac_tab[r << 4]
            self.bw.u(code, ln)
            if r:
                self.bw.u(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for b in self.bits:
            self.bw.u(b, 1)
        self.bits = []

    def bump(self, extra_bits: list[int]) -> None:
        self.eobrun += 1
        self.bits.extend(extra_bits)
        if self.eobrun == 0x7FFF:
            self.flush()


def _encode_ac_first_block(
    bw: BitWriter, ac_tab: dict, tv: np.ndarray, eob: "_EobState"
) -> None:
    if not tv.any():
        eob.bump([])
        return
    eob.flush()
    if _encode_ac_runs(bw, ac_tab, tv):
        eob.bump([])


def _encode_ac_refine_block(
    bw: BitWriter,
    ac_tab: dict,
    band: np.ndarray,
    al: int,
    eob: "_EobState",
) -> None:
    tv = _pt_ac(band, al)
    absv = np.abs(tv)
    newnz = np.nonzero(absv == 1)[0]
    eobpos = int(newnz[-1]) if len(newnz) else -1
    r = 0
    br_bits: list[int] = []
    for k in range(len(band)):
        t = int(absv[k])
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eobpos:
            eob.flush()
            ln, code = ac_tab[0xF0]
            bw.u(code, ln)
            r -= 16
            for b in br_bits:
                bw.u(b, 1)
            br_bits = []
        if t > 1:
            br_bits.append(t & 1)
            continue
        eob.flush()
        ln, code = ac_tab[(r << 4) | 1]
        bw.u(code, ln)
        bw.u(1 if tv[k] > 0 else 0, 1)
        for b in br_bits:
            bw.u(b, 1)
        br_bits = []
        r = 0
    if r > 0 or br_bits:
        eob.bump(br_bits)


def jpeg_encode_progressive(
    px: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    scans: list | None = None,
) -> bytes:
    """Encode (h, w) gray or (h, w, 3) RGB uint8 to PROGRESSIVE JFIF
    (SOF2): spectral selection + successive approximation over the
    same quantized coefficients as ``jpeg_encode`` at the same quality
    — progressive coding is a lossless reordering of the entropy data,
    so decode(jpeg_encode_progressive(px, q)) must equal
    decode(jpeg_encode(px, q)) pixel for pixel (the differential test
    anchor).  ``scans`` entries are (component-indices, Ss, Se, Ah,
    Al); the default script is libjpeg-shaped and exercises every
    progressive decode path."""
    gray, samp, qsel, qy, qc, prepped, geo = _prep_planes(
        px, quality, subsample
    )
    h, w = px.shape[:2]
    hmax, vmax, mcux, mcuy = geo
    nc = 1 if gray else 3
    coefzz = _quantized_zz(prepped, samp, qsel, qy, qc)
    if scans is None:
        scans = default_progressive_scans(gray)
    # component ceil grids for non-interleaved scans
    grids = []
    for ci in range(nc):
        cw = -(-(w * samp[ci][0]) // hmax)
        ch = -(-(h * samp[ci][1]) // vmax)
        grids.append((-(-ch // 8), -(-cw // 8)))

    out = _headers(
        0xC2, px, samp, qsel, qy, qc, _ENC_ACP_COUNTS, _ENC_ACP_SYMBOLS
    )
    dc_tab = _build_encode_table(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_tab = _build_encode_table(_ENC_ACP_COUNTS, _ENC_ACP_SYMBOLS)

    for comp_ids, ss, se, ah, al in scans:
        ns = len(comp_ids)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
        for ci in comp_ids:
            out += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
        out += bytes([ss, se, (ah << 4) | al])
        bw = BitWriter()
        if ss == 0:
            if ns > 1:  # interleaved: blocks in MCU order
                blocks = [
                    (ci, my * samp[ci][1] + by, mx * samp[ci][0] + bx)
                    for my in range(mcuy)
                    for mx in range(mcux)
                    for ci in comp_ids
                    for by in range(samp[ci][1])
                    for bx in range(samp[ci][0])
                ]
            else:
                gby, gbx = grids[comp_ids[0]]
                blocks = [
                    (comp_ids[0], by, bx)
                    for by in range(gby)
                    for bx in range(gbx)
                ]
            preds = {ci: 0 for ci in comp_ids}
            for ci, by, bx in blocks:
                dc = int(coefzz[ci][by, bx, 0])
                if ah:  # refinement: one bit per block
                    bw.u((dc >> al) & 1, 1)
                    continue
                size, bits = _mag((dc >> al) - preds[ci])
                preds[ci] = dc >> al
                ln, code = dc_tab[size]
                bw.u(code, ln)
                bw.u(bits, size)
        else:
            if ns != 1:
                raise ValueError("progressive AC scans are single-component")
            ci = comp_ids[0]
            gby, gbx = grids[ci]
            eob = _EobState(bw, ac_tab)
            for bi in range(gby * gbx):
                by, bx = divmod(bi, gbx)
                band = coefzz[ci][by, bx, ss : se + 1]
                if ah == 0:
                    _encode_ac_first_block(
                        bw, ac_tab, _pt_ac(band, al), eob
                    )
                else:
                    _encode_ac_refine_block(bw, ac_tab, band, al, eob)
            eob.flush()
        out += _entropy_bytes(bw)
    out += b"\xff\xd9"  # EOI
    return bytes(out)
