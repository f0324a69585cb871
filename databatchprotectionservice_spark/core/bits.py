"""Bit-level primitives shared by the from-scratch codecs.

One copy of each, so every format that needs it encodes the same way:

* **XXH64** (Collet's published algorithm): the four lane
  accumulators over 32-byte stripes, the prime-multiply avalanche.
  Zstandard's frame checksum and parquet's split-block Bloom filters
  both hash with it; pinned against the published vectors and Spark's
  JVM ``xxhash64``.
* **ULEB128**: little-endian base-128 varints, seven bits per byte,
  high bit = "more follows".  Thrift compact, Avro, parquet's
  RLE/bit-packed hybrid and DELTA headers, and snappy's length
  preamble all write them.
* **zigzag**: the sign fold ``0, -1, 1, -2, ... -> 0, 1, 2, 3, ...``
  that lets small negative integers take short varints.  Both halves
  work at any width: for an int64 the result equals the usual
  ``(n << 1) ^ (n >> 63)``, and ORC's unbounded decimal varints
  (up to 200 bits) decode through the same function.

The varint *readers* stay with their formats: each raises its own
format error and enforces its own width cap.
"""

from __future__ import annotations

import struct

_MASK64 = (1 << 64) - 1

# XXH64 primes (public reference constants)
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK64
    return (_rotl(acc, 31) * _P1) & _MASK64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _MASK64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` — the published algorithm, stripe by stripe."""
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK64
        v2 = (seed + _P2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - _P1) & _MASK64
        for pos in range(0, n - 31, 32):
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, pos)
            v1 = _round(v1, l1)
            v2 = _round(v2, l2)
            v3 = _round(v3, l3)
            v4 = _round(v4, l4)
        pos += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _MASK64
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _MASK64
    h = (h + n) & _MASK64
    while pos + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, pos)
        h ^= _round(0, k)
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK64
        pos += 8
    if pos + 4 <= n:
        (k,) = struct.unpack_from("<I", data, pos)
        h ^= (k * _P1) & _MASK64
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK64
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P5) & _MASK64
        h = (_rotl(h, 11) * _P1) & _MASK64
        pos += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK64
    h ^= h >> 29
    h = (h * _P3) & _MASK64
    h ^= h >> 32
    return h


def uleb128(u: int) -> bytes:
    """Unsigned ``u`` as a ULEB128 varint, low seven bits first."""
    out = bytearray()
    while u > 0x7F:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)
    return bytes(out)


def zigzag_encode(n: int) -> int:
    """Signed -> unsigned: ``n >= 0`` maps to ``2n``, ``n < 0`` to
    ``-2n - 1``; no width limit."""
    return n << 1 if n >= 0 else (~n << 1) | 1


def zigzag_decode(u: int) -> int:
    """Inverse of :func:`zigzag_encode`, at any width."""
    return (u >> 1) ^ -(u & 1)
