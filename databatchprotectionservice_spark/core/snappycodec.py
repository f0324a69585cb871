"""Snappy raw-block encoder — the reference's default codec.

Public format (google/snappy ``format_description.txt``): a ULEB128
uncompressed-length preamble, then tagged elements —

* ``00`` literals (6-bit length, 60-63 escaping to 1-4 little-endian
  extra bytes);
* ``01`` copy with 3-bit length (4-11) and an 11-bit offset split
  across the tag's top 3 bits and one trailing byte;
* ``10`` copy with 6-bit length (1-64) and a 2-byte LE offset;
* ``11`` copy with a 4-byte LE offset (never emitted here).

The encoder is the same greedy hash-table matcher family as
``core/lz4codec.py`` (min match 4, 64-byte ops, 64 KiB offsets).
Decoding goes through ``core/compression.py`` (pyarrow's C++
snappy), which the unit suite uses as this encoder's referee.
"""

from __future__ import annotations

from .bits import uleb128
from .errors import DBPSInvalidInputError

MAX_CONTENT = 1 << 30


class SnappyFormatError(DBPSInvalidInputError):
    """Input the snappy encoder refuses (content over the cap)."""


def _emit_literal(out: bytearray, chunk: bytes) -> None:
    lit = len(chunk)
    if lit == 0:
        return
    v = lit - 1
    if v < 60:
        out.append(v << 2)
    elif v < 1 << 8:
        out.append(60 << 2)
        out.append(v)
    elif v < 1 << 16:
        out.append(61 << 2)
        out.extend(v.to_bytes(2, "little"))
    elif v < 1 << 24:
        out.append(62 << 2)
        out.extend(v.to_bytes(3, "little"))
    else:
        out.append(63 << 2)
        out.extend(v.to_bytes(4, "little"))
    out.extend(chunk)


def _emit_copies(out: bytearray, offset: int, mlen: int) -> None:
    # ops carry at most 64 bytes; prefer copy-1 when it fits
    while mlen > 0:
        if mlen > 64:
            step = 64 if mlen - 64 >= 4 else 60
        else:
            step = mlen
        if 4 <= step <= 11 and offset < 2048:
            out.append(
                1 | ((step - 4) << 2) | ((offset >> 8) << 5)
            )
            out.append(offset & 0xFF)
        else:
            out.append(2 | ((step - 1) << 2))
            out.extend(offset.to_bytes(2, "little"))
        mlen -= step


def snappy_compress(data: bytes) -> bytes:
    n = len(data)
    if n > MAX_CONTENT:
        raise SnappyFormatError("content over the cap")
    out = bytearray(uleb128(n))
    table: dict = {}
    anchor = 0
    i = 0
    limit = n - 4
    while i <= limit:
        key = data[i : i + 4]
        cand = table.get(key, -1)
        table[key] = i
        if cand >= 0 and i - cand <= 0xFFFF and data[cand : cand + 4] == key:
            mlen = 4
            while i + mlen < n and data[cand + mlen] == data[i + mlen]:
                mlen += 1
            _emit_literal(out, data[anchor:i])
            _emit_copies(out, i - cand, mlen)
            i += mlen
            anchor = i
        else:
            i += 1
    _emit_literal(out, data[anchor:])
    return bytes(out)
