"""Test-only LZ4 frame builder.

pyarrow writes frames with no checksums, so tests that need the
frame format's other shapes (per-block and whole-content XXH32
checksums, a declared content size, stored blocks) assemble them
here from liblz4 raw blocks (lz4_Frame_format.md).  liblz4 verifies
every checksum byte built here, so a wrong XXH32 cannot pass.
"""

from __future__ import annotations

import pyarrow as pa

_M32 = 0xFFFFFFFF
_P1, _P2, _P3, _P4, _P5 = (
    2654435761, 2246822519, 3266489917, 668265263, 374761393,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _round(acc: int, lane: bytes) -> int:
    acc = (acc + int.from_bytes(lane, "little") * _P2) & _M32
    return (_rotl(acc, 13) * _P1) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    n, i = len(data), 0
    if n >= 16:
        acc = [
            (seed + _P1 + _P2) & _M32, (seed + _P2) & _M32,
            seed & _M32, (seed - _P1) & _M32,
        ]
        while i + 16 <= n:
            acc = [_round(a, data[i + 4 * k : i + 4 * k + 4])
                   for k, a in enumerate(acc)]
            i += 16
        h = (_rotl(acc[0], 1) + _rotl(acc[1], 7) + _rotl(acc[2], 12)
             + _rotl(acc[3], 18)) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        h = (h + int.from_bytes(data[i : i + 4], "little") * _P3) & _M32
        h = (_rotl(h, 17) * _P4) & _M32
        i += 4
    for b in data[i:]:
        h = (_rotl((h + b * _P5) & _M32, 11) * _P1) & _M32
    h = ((h ^ (h >> 15)) * _P2) & _M32
    h = ((h ^ (h >> 13)) * _P3) & _M32
    return h ^ (h >> 16)


def lz4_frame(
    content: bytes,
    *,
    block_checksum: bool = False,
    content_checksum: bool = True,
    content_size: bool = True,
    store: bool = False,
) -> bytes:
    """One frame of 64 KiB independent blocks; ``store`` writes every
    block uncompressed (the high-bit flag)."""
    flg = 0x60 | (0x10 * block_checksum) | (0x08 * content_size)
    flg |= 0x04 * content_checksum
    head = bytes([flg, 0x40])
    if content_size:
        head += len(content).to_bytes(8, "little")
    out = bytearray(b"\x04\x22\x4d\x18" + head)
    out.append((xxh32(head) >> 8) & 0xFF)
    for at in range(0, len(content), 1 << 16):
        chunk = content[at : at + (1 << 16)]
        body = chunk if store else pa.compress(
            chunk, codec="lz4_raw", asbytes=True
        )
        out += (len(body) | (store << 31)).to_bytes(4, "little") + body
        if block_checksum:
            out += xxh32(body).to_bytes(4, "little")
    out += bytes(4)
    if content_checksum:
        out += xxh32(content).to_bytes(4, "little")
    return bytes(out)
