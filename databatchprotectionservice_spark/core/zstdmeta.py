"""Zstandard frame walk + raw-block encoder.

Public format (RFC 8878).  The frame layer is walked here; the
entropy-coded block content is libzstd's job:

* **frame walk** — magic, Frame_Header_Descriptor (content-size /
  single-segment / checksum / dictionary-ID flags), window
  descriptor math (``10+exponent`` log, eighth-mantissa add),
  all four Frame_Content_Size widths, skippable frames
  (0x184D2A50-5F), and the 3-byte block headers (Raw / RLE /
  Compressed / Reserved).  A frame of Raw and RLE blocks is
  regenerated here; a frame holding any Compressed block is decoded
  by libzstd (pyarrow's ``CompressedInputStream``) in one call on
  that frame's bytes, the read bounded by the declared content size
  (or the 128 KiB block maximum per block) and by ``MAX_CONTENT``.
  Dictionary frames (``Dictionary_ID`` set) need the external
  dictionary, so they report ``content=None, checksum_ok=None``;
* **raw-block encoder** — a spec-legal zstd COMPRESSOR that emits
  only Raw blocks (single-segment frames, 128 KiB block chunking,
  optional content checksum).  Any conformant zstd decoder must
  accept its output — the unit suite pins that against libzstd;
* **content checksum** — the low 32 bits of ``XXH64(content, 0)``
  (the shared ``core/bits.py`` primitive), verified whenever the
  walk has the content.
"""

from __future__ import annotations

import pyarrow as pa

from .bits import xxh64
from .errors import DBPSInvalidInputError

MAGIC = 0xFD2FB528
SKIPPABLE_LO = 0x184D2A50
MAX_CONTENT = 1 << 30
MAX_BLOCKS = 1 << 20
_BLOCK_MAX = 1 << 17  # 128 KiB — the spec's block maximum


class ZstdFormatError(DBPSInvalidInputError):
    """Malformed zstd data."""


# ---------------------------------------------------------------------------
# frame walk
# ---------------------------------------------------------------------------


def _need(data: bytes, pos: int, n: int, what: str) -> None:
    if pos + n > len(data):
        raise ZstdFormatError(f"truncated {what} at offset {pos}")


def _libzstd(frame: bytes, limit: int) -> bytes:
    """Decode one complete frame, reading at most ``limit + 1`` bytes
    so a hostile frame cannot allocate past ``limit``."""
    try:
        stream = pa.CompressedInputStream(pa.BufferReader(frame), "zstd")
        out = stream.read(limit + 1)
    except (pa.ArrowException, OSError) as e:  # corrupt data: OSError
        raise ZstdFormatError(f"libzstd: {e}") from None
    if len(out) > limit:
        raise ZstdFormatError(f"regenerated content over the {limit}-byte cap")
    return out


def parse_zstd_frames(data: bytes) -> list:
    """Walk every frame in a zstd stream (frames may be concatenated).

    -> [{kind, content_size, window_size, dict_id, blocks,
    checksum_present, checksum_ok, content}] — ``content`` is the
    regenerated bytes, or None for a dictionary frame;
    ``checksum_ok`` is True/False when verifiable, None otherwise.
    """
    frames = []
    pos = 0
    if not data:
        raise ZstdFormatError("empty stream")
    while pos < len(data):
        frame_start = pos
        _need(data, pos, 4, "frame magic")
        magic = int.from_bytes(data[pos : pos + 4], "little")
        pos += 4
        if SKIPPABLE_LO <= magic <= SKIPPABLE_LO + 0xF:
            _need(data, pos, 4, "skippable size")
            size = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
            _need(data, pos, size, "skippable payload")
            frames.append(
                {
                    "kind": "skippable",
                    "content_size": size,
                    "window_size": None,
                    "dict_id": None,
                    "blocks": [],
                    "checksum_present": False,
                    "checksum_ok": None,
                    "content": data[pos : pos + size],
                }
            )
            pos += size
            continue
        if magic != MAGIC:
            raise ZstdFormatError(f"bad frame magic 0x{magic:08x}")

        _need(data, pos, 1, "frame header descriptor")
        fhd = data[pos]
        pos += 1
        if fhd & 0x08:
            raise ZstdFormatError("reserved descriptor bit set")
        fcs_flag = fhd >> 6
        single_segment = bool(fhd & 0x20)
        checksum_present = bool(fhd & 0x04)
        did_flag = fhd & 0x03

        window_size = None
        if not single_segment:
            _need(data, pos, 1, "window descriptor")
            wd = data[pos]
            pos += 1
            exponent, mantissa = wd >> 3, wd & 7
            base = 1 << (10 + exponent)
            window_size = base + (base // 8) * mantissa

        did_len = (0, 1, 2, 4)[did_flag]
        dict_id = None
        if did_len:
            _need(data, pos, did_len, "dictionary id")
            dict_id = int.from_bytes(data[pos : pos + did_len], "little")
            pos += did_len

        fcs_len = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
        content_size = None
        if fcs_len:
            _need(data, pos, fcs_len, "frame content size")
            content_size = int.from_bytes(
                data[pos : pos + fcs_len], "little"
            )
            if fcs_len == 2:
                content_size += 256
            pos += fcs_len
        if single_segment:
            window_size = content_size

        # Raw and RLE content is regenerated as the blocks are walked;
        # it is the frame's content only when no block is Compressed
        blocks = []
        chunks = bytearray()
        n_compressed = 0
        while True:
            _need(data, pos, 3, "block header")
            head = int.from_bytes(data[pos : pos + 3], "little")
            pos += 3
            last = head & 1
            btype = (head >> 1) & 3
            bsize = head >> 3
            if btype == 3:
                raise ZstdFormatError("reserved block type")
            if len(blocks) >= MAX_BLOCKS:
                raise ZstdFormatError("block count over the cap")
            if btype == 1:  # RLE: one byte, regenerated bsize times
                _need(data, pos, 1, "RLE byte")
                chunks += data[pos : pos + 1] * bsize
                pos += 1
            else:
                _need(data, pos, bsize, "block payload")
                if btype == 0:
                    chunks += data[pos : pos + bsize]
                else:
                    n_compressed += 1
                pos += bsize
            blocks.append(
                {"type": ("raw", "rle", "compressed")[btype],
                 "size": bsize}
            )
            if len(chunks) > MAX_CONTENT:
                raise ZstdFormatError("regenerated content over the cap")
            if last:
                break

        want = None
        if checksum_present:
            _need(data, pos, 4, "content checksum")
            want = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        content = None
        if dict_id is None:
            if n_compressed:
                # a Compressed block regenerates at most the 128 KiB
                # block maximum, which bounds the read when the header
                # declares no content size
                limit = content_size
                if limit is None:
                    limit = len(chunks) + n_compressed * _BLOCK_MAX
                content = _libzstd(
                    data[frame_start:pos], min(limit, MAX_CONTENT)
                )
            else:
                content = bytes(chunks)
            if content_size is not None and len(content) != content_size:
                raise ZstdFormatError(
                    f"regenerated {len(content)} bytes, header "
                    f"declares {content_size}"
                )
        checksum_ok = None
        if want is not None and content is not None:
            checksum_ok = (xxh64(content, 0) & 0xFFFFFFFF) == want
            if not checksum_ok:
                raise ZstdFormatError("content checksum mismatch")
        frames.append(
            {
                "kind": "zstd",
                "content_size": content_size,
                "window_size": window_size,
                "dict_id": dict_id,
                "blocks": blocks,
                "checksum_present": checksum_present,
                "checksum_ok": checksum_ok,
                "content": content,
            }
        )
    return frames


# ---------------------------------------------------------------------------
# raw-block encoder
# ---------------------------------------------------------------------------



def encode_zstd_raw(content: bytes, *, checksum: bool = True) -> bytes:
    """A spec-legal zstd frame holding ``content`` in Raw blocks.

    No compression happens — this is the store-mode every conformant
    decoder accepts, useful for wrapping already-compressed payloads
    in zstd framing (and for pinning the walk against real libzstd).
    """
    n = len(content)
    if n > MAX_CONTENT:
        raise ZstdFormatError("content over the cap")
    if n < 256:
        fcs_flag, fcs_len = 0, 1
    elif n < 65536 + 256:
        fcs_flag, fcs_len = 1, 2
    elif n < 1 << 32:
        fcs_flag, fcs_len = 2, 4
    else:
        fcs_flag, fcs_len = 3, 8
    fhd = (fcs_flag << 6) | 0x20 | (0x04 if checksum else 0)
    out = bytearray(MAGIC.to_bytes(4, "little"))
    out.append(fhd)
    fcs_value = n - 256 if fcs_flag == 1 else n
    out += fcs_value.to_bytes(fcs_len, "little")
    at = 0
    while True:
        chunk = content[at : at + _BLOCK_MAX]
        at += len(chunk)
        last = 1 if at >= n else 0
        out += ((len(chunk) << 3) | (0 << 1) | last).to_bytes(3, "little")
        out += chunk
        if last:
            break
    if checksum:
        out += (xxh64(content, 0) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)
