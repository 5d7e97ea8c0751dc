"""operators/bitstream.py, checked against hand-derived bit patterns.

The LZW code-width schedule is the one place where GIF and TIFF differ
inside the shared codec, and a matched encoder/decoder pair would
round-trip through any schedule.  So the widths here are derived by
hand from the two specs, not from the encoder:

  * GIF widens when the decoder's table reaches 2^width entries.
  * TIFF widens one code earlier (EarlyChange): at 2^width - 1 entries,
    the schedule libtiff's decoder follows.

Fixed input: bytes 0..255 twice.  The first copy emits 256 root codes
0..255, adding the pairs (i, i+1) as entries 258..512 and (255, 0) as
513; the second copy is 128 pairs (2k, 2k+1), each already entry
258 + 2k.  After the n-th data code the decoder's table holds 258 +
(n - 1) entries, so GIF reaches 512 entries at data code 255 and its
256th data code is the first 10-bit one, while TIFF reaches 511 at
data code 254 and widens at its 255th.  With CLEAR at index 0 of the
code list, data code n sits at index n.
"""

from __future__ import annotations

import pytest

from imdb_top_250_etl_pipeline_spark.operators.bitstream import (
    BitReader,
    BitWriter,
    lzw_decode,
    lzw_encode,
)

_INPUT = bytes(range(256)) * 2
_CODES = [256] + list(range(256)) + [258 + 2 * k for k in range(128)] + [257]
# flavour -> (msb_first, early_change, index of the first 10-bit code)
_FLAVOURS = {"gif": (False, 0, 256), "tiff": (True, 1, 255)}


def _widths(first_10bit: int) -> list[int]:
    return [9] * first_10bit + [10] * (len(_CODES) - first_10bit)


def _pack(codes, widths, msb_first: bool) -> bytes:
    acc = nbits = 0
    out = bytearray()
    for c, w in zip(codes, widths):
        if msb_first:
            acc = (acc << w) | c
        else:
            acc |= c << nbits
        nbits += w
        while nbits >= 8:
            nbits -= 8
            if msb_first:
                out.append((acc >> nbits) & 0xFF)
            else:
                out.append(acc & 0xFF)
                acc >>= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF if msb_first else acc)
    return bytes(out)


def _unpack(data: bytes, widths, msb_first: bool) -> list[int]:
    acc = nbits = pos = 0
    out = []
    for w in widths:
        while nbits < w:
            if msb_first:
                acc = (acc << 8) | data[pos]
            else:
                acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        nbits -= w
        if msb_first:
            out.append((acc >> nbits) & ((1 << w) - 1))
        else:
            out.append(acc & ((1 << w) - 1))
            acc >>= w
    return out


@pytest.mark.parametrize("flavour", sorted(_FLAVOURS))
def test_lzw_first_10bit_code_is_spec_index(flavour):
    msb_first, early, first_10bit = _FLAVOURS[flavour]
    enc = lzw_encode(_INPUT, 256, msb_first=msb_first, early_change=early)
    assert _unpack(enc, _widths(first_10bit), msb_first) == _CODES
    assert len(enc) == -(-sum(_widths(first_10bit)) // 8)


@pytest.mark.parametrize("flavour", sorted(_FLAVOURS))
def test_lzw_decodes_hand_packed_widths(flavour):
    msb_first, early, first_10bit = _FLAVOURS[flavour]
    raw = _pack(_CODES, _widths(first_10bit), msb_first)
    got = lzw_decode(raw, len(_INPUT), 256, msb_first=msb_first,
                     early_change=early, what="hand stream")
    assert got == _INPUT


def test_reader_fields_and_exp_golomb():
    # 101 | 011 (ue 2) | 011 (se -1) | 1 (ue 0) | 00001 (unary 4) | 0
    r = BitReader(bytes([0b10101101, 0b11000010]), codec="T")
    assert r.u(3) == 0b101
    assert r.ue() == 2
    assert r.se() == -1
    assert r.ue() == 0
    assert r.unary() == 4
    assert r.bit_pos() == 15 and r.byte_pos() == 1
    assert r.u(1) == 0
    with pytest.raises(ValueError, match="T: bitstream truncated"):
        r.u(1)


def test_reader_signed_align_and_unary_limit():
    r = BitReader(bytes([0b11100000, 0xFF, 0x00, 0x01]), 0)
    assert r.s(3) == -1
    assert r.align() == 0  # the five zero pad bits
    assert r.byte_pos() == 1
    assert r.s(8) == -1
    with pytest.raises(ValueError, match="longer than 9"):
        r.unary(9)


def test_writer_matches_reader():
    w = BitWriter()
    w.u(0b101, 3)
    w.ue(2)
    w.se(-1)
    w.ue(0)
    w.u(-3, 4)  # two's complement low bits
    assert w.to_bytes() == bytes([0b10101101, 0b11110100])
    w.align(1)
    assert w.to_bytes() == bytes([0b10101101, 0b11110111])
    w.u(0x1FF, 9)
    w.align()
    assert w.to_bytes() == bytes([0b10101101, 0b11110111, 0xFF, 0x80])


# Table reset.  Every data code but the last adds one encoder entry, so
# the encoder's next free code after data code n is 258 + n whatever the
# input.  GIF clears when the table is full (next free code 4096, after
# data code 3838); TIFF clears at 4094, libtiff's writer point
# (free_ent == CODE_MAX - 1), after data code 3836.  Widths of data code
# n, from the same decoder rule as above: GIF 9 bits up to n = 255, 10
# from 256, 11 from 768, 12 from 1792; TIFF one code earlier (255, 767,
# 1791).  The CLEAR is written at 12 bits and the count restarts after it.
# flavour -> (first data code at 10, 11, 12 bits, index of the reset CLEAR)
_RESET = {"gif": ((256, 768, 1792), 3839), "tiff": ((255, 767, 1791), 3837)}
_LONG = bytes((i * i * 7 + i * 13 + (i >> 5)) & 0xFF for i in range(6000))


def _reset_widths(flavour: str, n_codes: int) -> list[int]:
    wider, reset = _RESET[flavour]
    widths = [9]  # the leading CLEAR
    n = 0  # data codes since the last CLEAR
    while len(widths) < n_codes:
        if n == reset - 1:  # the reset CLEAR: still 12 bits
            widths.append(12)
            n = 0
            continue
        n += 1
        widths.append(9 + sum(n >= k for k in wider))
    return widths


@pytest.mark.parametrize("flavour", sorted(_RESET))
def test_lzw_table_reset_clear_is_spec_index(flavour):
    msb_first, early, _ = _FLAVOURS[flavour]
    enc = lzw_encode(_LONG, 256, msb_first=msb_first, early_change=early)
    reset = _RESET[flavour][1]
    # enough codes to pass one reset and not reach a second; the END code
    # is the last field, so count fields until the stream is consumed
    n_codes = 1
    while -(-sum(_reset_widths(flavour, n_codes)) // 8) < len(enc):
        n_codes += 1
    codes = _unpack(enc, _reset_widths(flavour, n_codes), msb_first)
    assert reset < n_codes < 2 * reset
    assert [i for i, c in enumerate(codes) if c == 256] == [0, reset]
    assert codes[-1] == 257
    raw = _pack(codes, _reset_widths(flavour, n_codes), msb_first)
    assert raw == enc
    got = lzw_decode(raw, len(_LONG), 256, msb_first=msb_first,
                     early_change=early, what="hand stream")
    assert got == _LONG
