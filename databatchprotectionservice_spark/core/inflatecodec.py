"""DEFLATE (RFC 1951) with the RFC 1950 (zlib) and RFC 1952 (gzip)
wrappers.

Decoding runs in stdlib ``zlib`` (``decompressobj``); this module
keeps the container walks around it:

* RFC 1950: 2-byte header (CM/CINFO/FCHECK/FDICT) and the Adler-32
  trailer;
* RFC 1952: gzip member header (magic, CM, FLG with FEXTRA/FNAME/
  FCOMMENT/FHCRC), CRC-32 and ISIZE trailer, and the walk over
  concatenated members.

Every decode is capped at ``MAX_OUTPUT`` bytes, and any ``zlib.error``
surfaces as :class:`InflateError`.  Encoding is stdlib ``zlib`` and
``gzip``; this module has no encoder.
"""

from __future__ import annotations

import struct
import zlib
from zlib import adler32, crc32

from .errors import DBPSInvalidInputError

#: decompressed-size cap: a hostile stream must not balloon memory
MAX_OUTPUT = 1 << 28


class InflateError(DBPSInvalidInputError):
    """Malformed DEFLATE/zlib/gzip data."""


def inflate_raw(data: bytes, start: int = 0) -> tuple[bytes, int]:
    """Decode one complete raw-DEFLATE stream starting at byte
    ``start``; returns (decompressed bytes, next byte position)."""
    d = zlib.decompressobj(-15)
    try:
        out = d.decompress(memoryview(data)[start:], MAX_OUTPUT + 1)
    except zlib.error as e:
        raise InflateError(f"zlib: {e}") from None
    if len(out) > MAX_OUTPUT:
        raise InflateError("output exceeds decoder cap")
    if not d.eof:
        raise InflateError("unexpected end of DEFLATE stream")
    return out, len(data) - len(d.unused_data)


def inflate_zlib(data: bytes) -> bytes:
    """RFC 1950 wrapper: header checks + Adler-32 trailer verify."""
    if len(data) < 6:
        raise InflateError("zlib stream too short")
    cmf, flg = data[0], data[1]
    if cmf & 0x0F != 8:
        raise InflateError(f"zlib CM {cmf & 0x0F} is not DEFLATE")
    if (cmf >> 4) > 7:
        raise InflateError("zlib CINFO window exceeds 32 KiB")
    if (cmf * 256 + flg) % 31 != 0:
        raise InflateError("zlib FCHECK failed")
    if flg & 0x20:
        raise InflateError("zlib FDICT preset dictionaries not supported")
    out, pos = inflate_raw(data, 2)
    if pos + 4 > len(data):
        raise InflateError("zlib stream missing Adler-32 trailer")
    want = struct.unpack_from(">I", data, pos)[0]
    got = adler32(out)
    if want != got:
        raise InflateError(f"Adler-32 mismatch: {got:#x} != {want:#x}")
    return out


def inflate_gzip(data: bytes) -> bytes:
    """RFC 1952 single-member gzip: exactly one member, trailer-verified.

    Bytes after the member's trailer are an error here, not a second
    member (:func:`gzip_members` is the multi-stream entry point)."""
    members = gzip_members(data)
    if len(members) != 1:
        raise InflateError(
            f"expected one gzip member, found {len(members)}"
        )
    return members[0]


def gzip_members(data: bytes) -> list[bytes]:
    """Walk CONCATENATED gzip members (RFC 1952 §2.2 allows a file to
    be a sequence of members — the Common Crawl warc.gz layout) and
    return each member's decompressed payload, trailer-verified."""
    data = bytes(data)
    out: list[bytes] = []
    pos = 0
    while pos < len(data):
        if pos + 18 > len(data) or data[pos] != 0x1F or data[pos + 1] != 0x8B:
            raise InflateError(f"missing gzip member magic at {pos}")
        # the member's extent is the header walked here, then the
        # raw-stream end position inflate_raw reports, then the trailer
        if data[pos + 2] != 8:
            raise InflateError(f"gzip CM {data[pos + 2]} is not DEFLATE")
        flg = data[pos + 3]
        if flg & 0xE0:
            raise InflateError("gzip reserved FLG bits set")
        p = pos + 10
        if flg & 0x04:
            if p + 2 > len(data):
                raise InflateError("truncated FEXTRA length")
            p += 2 + struct.unpack_from("<H", data, p)[0]
        for bit in (0x08, 0x10):
            if flg & bit:
                end = data.find(b"\x00", p)
                if end < 0:
                    raise InflateError("unterminated gzip header string")
                p = end + 1
        if flg & 0x02:
            if p + 2 > len(data):
                raise InflateError("truncated FHCRC")
            want = struct.unpack_from("<H", data, p)[0]
            if crc32(data[pos:p]) & 0xFFFF != want:
                raise InflateError("gzip header CRC16 mismatch")
            p += 2
        payload, p = inflate_raw(data, p)
        if p + 8 > len(data):
            raise InflateError("gzip member missing CRC32/ISIZE trailer")
        want_crc, want_isize = struct.unpack_from("<II", data, p)
        if crc32(payload) != want_crc:
            raise InflateError("gzip member CRC-32 mismatch")
        if len(payload) % (1 << 32) != want_isize:
            raise InflateError("gzip member ISIZE mismatch")
        out.append(payload)
        pos = p + 8
    return out
