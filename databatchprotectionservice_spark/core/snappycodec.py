"""Snappy raw-block codec from scratch — the reference's default codec.

Public format (google/snappy ``format_description.txt``): a ULEB128
uncompressed-length preamble, then tagged elements —

* ``00`` literals (6-bit length, 60-63 escaping to 1-4 little-endian
  extra bytes);
* ``01`` copy with 3-bit length (4-11) and an 11-bit offset split
  across the tag's top 3 bits and one trailing byte;
* ``10`` copy with 6-bit length (1-64) and a 2-byte LE offset;
* ``11`` copy with a 4-byte LE offset (emitted only for giant
  streams; decoded here, never emitted).

Copies may self-overlap (offset < length replicates) and the decoder
must regenerate EXACTLY the preamble's byte count — both enforced.
The encoder is the same greedy hash-table matcher family as
``core/lz4codec.py`` (min match 4, 64-byte ops, 64 KiB offsets).

The production page path (``core/compression.py``) keeps pyarrow's
C++ snappy for throughput; this module is the spec-complete twin the
unit suite pins against it in BOTH directions, the same role
``refbench/shims/snappy.h`` plays on the C++ side — and the proof
that the engine's dominant page codec has no black box in it.
"""

from __future__ import annotations

from .bits import uleb128
from .errors import DBPSInvalidInputError

MAX_CONTENT = 1 << 30


class SnappyFormatError(DBPSInvalidInputError):
    """Malformed snappy raw-block data."""


def snappy_decompress(data: bytes) -> bytes:
    n = len(data)
    # ULEB128 preamble
    length, shift, pos = 0, 0, 0
    while True:
        if pos >= n:
            raise SnappyFormatError("truncated length preamble")
        b = data[pos]
        pos += 1
        length |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 32:
            raise SnappyFormatError("length varint over 5 bytes")
    if length > MAX_CONTENT:
        raise SnappyFormatError(f"declared length {length} over the cap")
    out = bytearray()
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            x = tag >> 2
            if x < 60:
                lit = x + 1
            else:
                nb = x - 59
                if pos + nb > n:
                    raise SnappyFormatError("truncated literal length")
                lit = int.from_bytes(data[pos : pos + nb], "little") + 1
                pos += nb
            if pos + lit > n:
                raise SnappyFormatError("literal overruns the block")
            out += data[pos : pos + lit]
            pos += lit
        else:
            if kind == 1:
                if pos >= n:
                    raise SnappyFormatError("truncated copy-1")
                mlen = ((tag >> 2) & 0x07) + 4
                offset = ((tag >> 5) << 8) | data[pos]
                pos += 1
            elif kind == 2:
                if pos + 2 > n:
                    raise SnappyFormatError("truncated copy-2")
                mlen = (tag >> 2) + 1
                offset = int.from_bytes(data[pos : pos + 2], "little")
                pos += 2
            else:
                if pos + 4 > n:
                    raise SnappyFormatError("truncated copy-4")
                mlen = (tag >> 2) + 1
                offset = int.from_bytes(data[pos : pos + 4], "little")
                pos += 4
            if offset == 0 or offset > len(out):
                raise SnappyFormatError(
                    f"copy offset {offset} outside the window"
                )
            start = len(out) - offset
            if offset >= mlen:
                out += out[start : start + mlen]
            else:  # overlapping copy replicates
                for k in range(mlen):
                    out.append(out[start + k])
        if len(out) > length:
            raise SnappyFormatError(
                f"output {len(out)} exceeds declared {length}"
            )
    if len(out) != length:
        raise SnappyFormatError(
            f"regenerated {len(out)} bytes, preamble declares {length}"
        )
    return bytes(out)


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
