"""Block compression codecs.

Mirrors ``src/processing/compression_utils.cpp:26-82``: the reference
implements UNCOMPRESSED and SNAPPY and throws ``DBPSUnsupportedException``
for the rest. We back SNAPPY with pyarrow and GZIP with zlib, and
additionally support ZSTD/BROTLI/LZ4_RAW when the caller knows the
decompressed size; LZO/LZ4(hadoop-framed) stay unsupported so the
per-block fallback path is exercised the same way as in the reference.

Snappy's raw block format starts with a ULEB128 uncompressed-length prefix,
which we parse to supply pyarrow the ``decompressed_size`` it requires —
the C++ snappy library does the same internally.

A declared size is exact: pyarrow zero-pads a stream that decodes short
of the buffer it is given, so a snappy prefix must equal the declaration
and an LZ4_RAW or BROTLI stream must not fit one byte less.
"""

from __future__ import annotations

import zlib

import pyarrow as pa

from .errors import DBPSInvalidInputError, DBPSUnsupportedError
from .types import CompressionCodec

#: hard allocation ceiling for one decompressed page (1 GiB — far above
#: any real Parquet page, far below a 2^35-1 claimed-length bomb)
MAX_DECOMPRESSED_BYTES = 1 << 30

_PYARROW_CODECS = {
    CompressionCodec.SNAPPY: "snappy",
    CompressionCodec.ZSTD: "zstd",
    CompressionCodec.BROTLI: "brotli",
    CompressionCodec.LZ4_RAW: "lz4_raw",
}

#: codecs compress()/decompress() can always handle (others raise
#: DBPSUnsupportedError -> sequencer falls back to per-block)
SUPPORTED_CODECS = frozenset(
    {
        CompressionCodec.UNCOMPRESSED,
        CompressionCodec.SNAPPY,
        CompressionCodec.GZIP,
    }
)


def snappy_uncompressed_len(data: bytes) -> int:
    """Parse the ULEB128 uncompressed-length prefix of a raw snappy block."""
    value, shift = 0, 0
    for i, b in enumerate(data[:5]):
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            return value
        shift += 7
    raise DBPSInvalidInputError("invalid snappy stream: bad length varint")


def compress(data: bytes, codec: CompressionCodec) -> bytes:
    if codec == CompressionCodec.UNCOMPRESSED:
        return data
    if codec == CompressionCodec.GZIP:
        # Parquet GZIP pages are RFC-1952 gzip members (magic 1f8b), not
        # zlib-framed (789c) — wbits=31 emits the gzip container.
        co = zlib.compressobj(wbits=31)
        return co.compress(data) + co.flush()
    name = _PYARROW_CODECS.get(codec)
    if name is None:
        raise DBPSUnsupportedError(f"unsupported compression codec: {codec.name}")
    return pa.compress(data, codec=name, asbytes=True)


def decompress(
    data: bytes,
    codec: CompressionCodec,
    uncompressed_size: int | None = None,
) -> bytes:
    if codec == CompressionCodec.UNCOMPRESSED:
        return data
    if codec == CompressionCodec.GZIP:
        try:
            # wbits=47 auto-detects both gzip (1f8b) and zlib (789c)
            # framing; bounded inflate — zlib's ~1032:1 ratio lets a
            # tiny page claim gigabytes otherwise
            dobj = zlib.decompressobj(wbits=47)
            out = dobj.decompress(data, MAX_DECOMPRESSED_BYTES + 1)
            if len(out) > MAX_DECOMPRESSED_BYTES or dobj.unconsumed_tail:
                raise DBPSInvalidInputError(
                    "gzip page inflates past the "
                    f"{MAX_DECOMPRESSED_BYTES}-byte page cap"
                )
            return out + dobj.flush()
        except zlib.error as e:
            raise DBPSInvalidInputError(f"gzip decompression failed: {e}") from e
    name = _PYARROW_CODECS.get(codec)
    if name is None:
        raise DBPSUnsupportedError(f"unsupported compression codec: {codec.name}")
    declared = uncompressed_size is not None
    if codec == CompressionCodec.SNAPPY:
        prefix = snappy_uncompressed_len(data)
        if declared and uncompressed_size != prefix:
            raise DBPSInvalidInputError(
                f"snappy stream holds {prefix} bytes, declared "
                f"{uncompressed_size}"
            )
        uncompressed_size = prefix
    elif not declared:
        raise DBPSUnsupportedError(
            f"{codec.name} requires a known uncompressed size"
        )
    # the length prefix is attacker-controlled (up to 2^35-1): cap it
    # BEFORE pyarrow preallocates the claimed buffer.  Real snappy
    # cannot exceed ~255x expansion, and no sane page exceeds the
    # absolute cap regardless of claimed ratio.
    if (
        uncompressed_size > MAX_DECOMPRESSED_BYTES
        or uncompressed_size > max(len(data), 1) * 255
    ):
        raise DBPSInvalidInputError(
            f"claimed uncompressed size {uncompressed_size} implausible "
            f"for {len(data)} compressed bytes"
        )
    out = _pa_decompress(data, uncompressed_size, name)
    # pyarrow zero-pads a stream that decodes short of the size it is
    # given; liblz4 and brotli fail instead when the buffer is too
    # small, so one byte less must not fit (zstd checks the frame's
    # own content size)
    if (
        codec in (CompressionCodec.LZ4_RAW, CompressionCodec.BROTLI)
        and uncompressed_size > 0
    ):
        try:
            _pa_decompress(data, uncompressed_size - 1, name)
        except DBPSInvalidInputError:
            return out
        raise DBPSInvalidInputError(
            f"{codec.name} stream holds fewer than the declared "
            f"{uncompressed_size} bytes"
        )
    return out


def _pa_decompress(data: bytes, size: int, name: str) -> bytes:
    try:
        return pa.decompress(
            data, decompressed_size=size, codec=name, asbytes=True
        )
    except (pa.ArrowException, OSError, ValueError) as e:
        # pyarrow surfaces corrupt-stream errors as OSError
        raise DBPSInvalidInputError(f"decompression failed: {e}") from e
