"""LZ4 reads through liblz4 (pyarrow), with the length checks a
container needs.

Public formats (lz4_Block_format.md / lz4_Frame_format.md).  liblz4
does every byte of the decode and verifies the frame's header, block
and content checksums itself; this module adds what liblz4's stream
API does not check:

* :func:`read_lz4_frame` — exactly ONE frame (liblz4's stream would
  run on into a second frame, and reads empty input as empty
  content), decoding to exactly the length the container declares;
* :func:`read_lz4_block` — a raw block with no declared size (ORC's
  LZ4 chunks), wrapped in a constant frame header so liblz4 reports
  its exact output length.

Raw blocks WITH a declared size (parquet LZ4_RAW pages, hadoop-LZ4
chunks) go through ``core/compression.decompress`` and its
exact-length rule.  Every liblz4 error surfaces as
:class:`Lz4FormatError`.
"""

from __future__ import annotations

import pyarrow as pa

from .errors import DBPSInvalidInputError

FRAME_MAGIC = b"\x04\x22\x4d\x18"
#: declared-content cap for one frame
MAX_CONTENT = 1 << 30
#: the largest output of one raw block under :data:`_BLOCK_FRAME`
MAX_BLOCK = 4 << 20

#: frame header for one raw block: magic, FLG 0x60 (version 01,
#: independent blocks, no checksums, no content size), BD 0x70 (4 MiB
#: maximum block), then the header-checksum byte 0x73, which the frame
#: spec defines as ``(XXH32(FLG BD, seed 0) >> 8) & 0xFF`` =
#: ``(0x789F73AA >> 8) & 0xFF``.  liblz4 verifies that byte.
_BLOCK_FRAME = bytes.fromhex("04224d18607073")


class Lz4FormatError(DBPSInvalidInputError):
    """Malformed LZ4 block or frame data."""


def _stream_read(frame: bytes, limit: int) -> bytes:
    try:
        with pa.CompressedInputStream(pa.BufferReader(frame), "lz4") as s:
            return s.read(limit)
    except (OSError, pa.ArrowException) as e:
        raise Lz4FormatError(f"liblz4: {e}") from None


def _frame_extent(data: bytes) -> tuple[int, int]:
    """Walk one frame's skeleton (descriptor, block sizes, checksum
    slots) without decoding it: returns (end offset, the most bytes
    its blocks can decode to)."""
    if len(data) < 7 or data[:4] != FRAME_MAGIC:
        raise Lz4FormatError("not an LZ4 frame")
    flg, bd = data[4], data[5]
    bs_id = (bd >> 4) & 0x07
    if bs_id < 4:
        raise Lz4FormatError(f"bad BD byte 0x{bd:02x}")
    block_max = 1 << (2 * bs_id + 8)
    pos = 7 + (8 if flg & 0x08 else 0) + (4 if flg & 0x01 else 0)
    block_tail = 4 if flg & 0x10 else 0
    room = 0
    while True:
        if pos + 4 > len(data):
            raise Lz4FormatError("truncated block header")
        word = int.from_bytes(data[pos : pos + 4], "little")
        size = word & 0x7FFFFFFF
        pos += 4
        if size == 0:  # end mark
            break
        pos += size + block_tail
        # a stored block (high bit) holds its own size; an LZ4 block
        # expands less than 256-fold
        room += size if word >> 31 else min(block_max, size << 8)
    pos += 4 if flg & 0x04 else 0
    if pos > len(data):
        raise Lz4FormatError("frame overruns its buffer")
    return pos, room


def read_lz4_frame(frame: bytes, want: int) -> bytes:
    """Exactly one LZ4 frame that decodes to exactly ``want`` bytes."""
    end, room = _frame_extent(frame)
    if end != len(frame):
        raise Lz4FormatError(f"{len(frame) - end} bytes after the frame")
    if want > min(room, MAX_CONTENT):
        raise Lz4FormatError(
            f"declared {want} bytes, the frame holds at most {room}"
        )
    # read one byte past the declaration so an overlong frame shows
    out = _stream_read(frame, want + 1)
    if len(out) != want:
        raise Lz4FormatError(f"frame decoded to {len(out)}, declared {want}")
    return out


def read_lz4_block(block: bytes) -> bytes:
    """One raw LZ4 block with no declared size, decoded to at most
    :data:`MAX_BLOCK` bytes; a truncated block raises."""
    frame = (
        _BLOCK_FRAME + len(block).to_bytes(4, "little") + block + bytes(4)
    )
    out = _stream_read(frame, MAX_BLOCK + 1)
    if len(out) > MAX_BLOCK:
        raise Lz4FormatError(f"block decodes past {MAX_BLOCK} bytes")
    return out
