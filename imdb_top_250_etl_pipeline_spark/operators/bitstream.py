"""The codecs' one bitstream core: an MSB-first bit reader, a bit writer
and an LZW string-table codec.

Every entropy-coded format at the codec seam reads and writes through
these three pieces; what stays in a codec module is its own tables and
its one format-specific byte step:

  * H.264 (operators/h264.py) reads the RBSP after its emulation-
    prevention transform, with exp-Golomb ``ue``/``se`` and its CAVLC
    tables on top of ``u``.
  * JPEG (operators/jpeg.py) passes its T.81 byte fetch — FF00
    unstuffing, any other FFxx is a marker and an error — as ``fetch``,
    and stuffs FF to FF00 over the writer's bytes.
  * FLAC (operators/flac.py) reads signed fields, unary Rice quotients
    and byte positions for its CRC slices.
  * GIF (operators/gif.py) and TIFF (operators/tiff.py) share the LZW
    codec; they differ only in bit order, root count and EarlyChange.

Readers fetch a whole byte only when a read needs its bits, so ``pos``
is always the first byte not yet fetched: the byte position a container
walk resumes at after an entropy-coded segment.
"""

from __future__ import annotations


def _next_byte(r: "BitReader") -> int:
    p = r.pos
    if p >= len(r.data):
        raise ValueError(f"{r.codec}: bitstream truncated")
    r.pos = p + 1
    return r.data[p]


class BitReader:
    """MSB-first bit reader over ``data`` from byte ``pos``.

    ``fetch(reader)`` returns the next byte and advances ``reader.pos``;
    the default reads ``data`` as is and raises ``ValueError("<codec>:
    bitstream truncated")`` past its end.  Fetched bits not yet read are
    the low ``nbits`` bits of ``acc``; bits above them are already read
    and dropped at the next fetch."""

    __slots__ = ("data", "pos", "acc", "nbits", "codec", "fetch")

    def __init__(self, data: bytes, pos: int = 0, codec: str = "", fetch=None):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.codec = codec
        self.fetch = fetch or _next_byte

    def u(self, k: int) -> int:
        """k bits as an unsigned int."""
        n = self.nbits
        if n < k:
            acc = self.acc & ((1 << n) - 1)
            while n < k:
                acc = (acc << 8) | self.fetch(self)
                n += 8
            self.acc = acc
        n -= k
        self.nbits = n
        return (self.acc >> n) & ((1 << k) - 1)

    def bit(self) -> int:
        """One bit: ``u(1)`` without the field arithmetic, for the
        bit-at-a-time Huffman/VLC walks that dominate JPEG and CAVLC."""
        n = self.nbits
        if not n:
            self.acc = self.fetch(self)
            n = 8
        n -= 1
        self.nbits = n
        return (self.acc >> n) & 1

    def s(self, k: int) -> int:
        """k bits as a two's-complement signed int (k >= 1)."""
        v = self.u(k)
        return v - (1 << k) if v >> (k - 1) else v

    def unary(self, limit: int = 1 << 20) -> int:
        """Count 0 bits up to the next 1 (consumed too); more than
        ``limit`` zeros is a corrupt stream."""
        n = 0
        while True:
            nb = self.nbits
            acc = self.acc & ((1 << nb) - 1)
            if acc:
                z = nb - acc.bit_length()
                n += z
                if n > limit:
                    break
                nb -= z + 1
                self.nbits = nb
                self.acc = acc ^ (1 << nb)
                return n
            n += nb
            if n > limit:
                break
            self.acc = self.fetch(self)
            self.nbits = 8
        raise ValueError(f"{self.codec}: unary code longer than {limit} bits")

    def ue(self) -> int:
        """Unsigned exp-Golomb (H.264 9.1)."""
        zeros = self.unary(32)
        return (1 << zeros) - 1 + self.u(zeros)

    def se(self) -> int:
        """Signed exp-Golomb: 1, 2, 3, 4 ... map to 1, -1, 2, -2 ..."""
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self) -> int:
        """Skip to the next byte boundary; returns the skipped bits so a
        codec that requires zero padding can check them."""
        return self.u(self.nbits & 7)

    def bit_pos(self) -> int:
        return self.pos * 8 - self.nbits

    def byte_pos(self) -> int:
        return self.bit_pos() >> 3


class BitWriter:
    """MSB-first bit writer: whole bytes go to ``out`` as they fill, the
    partial byte waits in ``acc`` (``nbits`` of it)."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def u(self, v: int, k: int) -> None:
        """The low k bits of v (two's complement for negative v)."""
        acc = (self.acc << k) | (v & ((1 << k) - 1))
        n = self.nbits + k
        if n >= 8:
            r = n & 7
            self.out += (acc >> r).to_bytes(n >> 3, "big")
            acc &= (1 << r) - 1
            n = r
        self.acc = acc
        self.nbits = n

    def ue(self, v: int) -> None:
        """Unsigned exp-Golomb: len-1 zeros, then v+1 in len bits."""
        self.u(v + 1, 2 * (v + 1).bit_length() - 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align(self, bit: int = 0) -> None:
        """Pad to the next byte boundary with ``bit``s."""
        k = -self.nbits & 7
        self.u(-bit, k)

    def to_bytes(self) -> bytes:
        """Everything written so far, the last byte zero-padded; the
        writer stays open."""
        if not self.nbits:
            return bytes(self.out)
        return bytes(self.out) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])


def lzw_decode(
    data: bytes,
    n_expected: int,
    roots: int,
    msb_first: bool,
    early_change: int,
    what: str,
) -> bytes:
    """Variable-width LZW decode of exactly ``n_expected`` symbols.

    Codes 0..roots-1 are the single symbols, ``roots`` is CLEAR and
    ``roots + 1`` END; codes start one bit wider than the roots and grow
    to 12 bits.  The width grows when the decoder's table (roots + 2 +
    one entry per code after the first) plus ``early_change`` reaches
    2^width: GIF widens at the full table (0), TIFF one code earlier
    (1).  Handles the KwKwK code (the entry being built).  An initial
    code past the roots, a code past the table, or data that ends
    early raise ValueError naming ``what``."""
    clear = roots
    first_width = roots.bit_length()
    roots_table = [bytes([i]) for i in range(roots)] + [b"", b""]
    table = list(roots_table)
    width = first_width
    out = bytearray()
    acc = nbits = pos = 0
    prev = None
    while len(out) < n_expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError(f"truncated {what}")
            if msb_first:
                acc = (acc << 8) | data[pos]
            else:
                acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        nbits -= width
        if msb_first:
            code = acc >> nbits
            acc &= (1 << nbits) - 1
        else:
            code = acc & ((1 << width) - 1)
            acc >>= width
        if code == clear:
            table = list(roots_table)
            width = first_width
            prev = None
            continue
        if code == clear + 1:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(f"invalid initial code {code} in {what}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"invalid code {code} in {what}")
        out += entry
        prev = entry
        if len(table) + early_change == 1 << width and width < 12:
            width += 1
    if len(out) < n_expected:
        raise ValueError(f"{what} ended early")
    return bytes(out[:n_expected])


def lzw_encode(
    data: bytes, roots: int, msb_first: bool, early_change: int
) -> bytes:
    """LZW encode that ``lzw_decode`` with the same constants inverts:
    CLEAR first and again when the table fills, END last, the final
    byte zero-padded.  The encoder's table runs one entry ahead of the
    decoder's, so it widens at 2^width + 1 entries (plus
    ``early_change``) — the same code in the stream where the decoder
    widens.  GIF clears at the full 4096-entry table; TIFF at 4094,
    where libtiff's writer clears (free_ent == CODE_MAX - 1)."""
    clear = roots
    first_width = roots.bit_length()
    full = 4094 if early_change else 4096
    codes: list[int] = [clear]
    widths: list[int] = [first_width]
    width = first_width
    table: dict[int, int] = {}
    next_code = clear + 2
    code = -1
    for b in data:
        if code < 0:
            code = b
            continue
        nxt = table.get((code << 8) | b)
        if nxt is not None:
            code = nxt
            continue
        codes.append(code)
        widths.append(width)
        table[(code << 8) | b] = next_code
        next_code += 1
        if next_code + early_change == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == full:
            codes.append(clear)
            widths.append(width)
            table = {}
            next_code = clear + 2
            width = first_width
        code = b
    if code >= 0:
        codes.append(code)
        widths.append(width)
    codes.append(clear + 1)
    widths.append(width)
    out = bytearray()
    acc = nbits = 0
    for c, w in zip(codes, widths):
        if msb_first:
            acc = (acc << w) | c
        else:
            acc |= c << nbits
        nbits += w
        while nbits >= 8:
            nbits -= 8
            if msb_first:
                out.append(acc >> nbits)
                acc &= (1 << nbits) - 1
            else:
                out.append(acc & 0xFF)
                acc >>= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF if msb_first else acc)
    return bytes(out)
