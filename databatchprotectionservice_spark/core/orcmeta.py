"""ORC file metadata walk — PostScript, Footer, stripes, schema tree.

Public layout (Apache ORC specification v1):

* the file ends ``... footer | postscript | u8 postscript_length``;
  the PostScript (ALWAYS uncompressed protobuf) carries the footer
  length, the compression kind, and the ``"ORC"`` magic in field
  8000;
* the Footer is protobuf, wrapped — when compression != NONE — in
  ORC's chunk framing: a 3-byte little-endian header per chunk,
  ``(chunk_length << 1) | is_original``, original chunks passing
  through raw;
* ``StripeInformation`` rows give each stripe's offset/index/data/
  footer lengths and row count; the ``Type`` list is the pre-order
  flattened schema tree (root STRUCT with ``subtypes`` +
  ``fieldNames``).

The protobuf structs are built programmatically on the vendored
miniproto runtime (the same from-scratch wire implementation behind
the TWS client and tf.train.Example) — no generated code.  Chunk
codecs: NONE, ZLIB (raw deflate), SNAPPY (length from the stream's
own ULEB128 prefix via ``core/compression.py``), LZ4 (raw block —
the ORC codec calls ``LZ4_decompress_safe`` on the bare chunk, no
frame header — decoded by liblz4 through ``core/lz4codec.py``, at
most 4 MiB per chunk), and
ZSTD (each chunk is a complete zstd frame: ``core/zstdmeta.py`` walks
the frame and libzstd decodes its blocks).  LZO chunks stay the named seam: the
LZO1X match tables are GPL-licensed, so a clean-room decoder has no
public-spec source to build from.

This is the ORC half of the scan-planning layer: stripe pruning and
split assignment read exactly these bytes (one ranged tail read),
mirroring ``core/parquetmeta.py`` on the parquet side.
"""

from __future__ import annotations

import zlib

from ..vendor.miniproto.google.protobuf._mini import (
    Descriptor,
    FieldDescriptor,
    make_message_class,
)
from .compression import decompress as _codec_decompress
from .compression import snappy_uncompressed_len
from .errors import DBPSInvalidInputError, DBPSUnsupportedError
from .types import CompressionCodec

_F = FieldDescriptor

MAX_META_BYTES = 1 << 26  # 64 MiB of footer is already absurd

COMPRESSION_NAMES = {
    0: "NONE",
    1: "ZLIB",
    2: "SNAPPY",
    3: "LZO",
    4: "LZ4",
    5: "ZSTD",
}
KIND_NAMES = {
    0: "BOOLEAN",
    1: "BYTE",
    2: "SHORT",
    3: "INT",
    4: "LONG",
    5: "FLOAT",
    6: "DOUBLE",
    7: "STRING",
    8: "BINARY",
    9: "TIMESTAMP",
    10: "LIST",
    11: "MAP",
    12: "STRUCT",
    13: "UNION",
    14: "DECIMAL",
    15: "DATE",
    16: "VARCHAR",
    17: "CHAR",
    18: "TIMESTAMP_INSTANT",
}


class OrcFormatError(DBPSInvalidInputError):
    """Malformed ORC container metadata."""


def _message(name: str, fields: list) -> Descriptor:
    d = Descriptor(name, f"orc.proto.{name}")
    for fd in fields:
        d.add_field(fd)
    make_message_class(d)
    return d


def _field(name, number, ftype, *, repeated=False, msg=None):
    fd = _F(
        name,
        number,
        ftype,
        _F.LABEL_REPEATED if repeated else _F.LABEL_OPTIONAL,
    )
    fd.message_type = msg
    return fd


POSTSCRIPT = _message(
    "PostScript",
    [
        _field("footerLength", 1, _F.TYPE_UINT64),
        _field("compression", 2, _F.TYPE_UINT64),
        _field("compressionBlockSize", 3, _F.TYPE_UINT64),
        _field("version", 4, _F.TYPE_UINT64, repeated=True),
        _field("metadataLength", 5, _F.TYPE_UINT64),
        _field("writerVersion", 6, _F.TYPE_UINT64),
        _field("magic", 8000, _F.TYPE_STRING),
    ],
)
STRIPE_INFO = _message(
    "StripeInformation",
    [
        _field("offset", 1, _F.TYPE_UINT64),
        _field("indexLength", 2, _F.TYPE_UINT64),
        _field("dataLength", 3, _F.TYPE_UINT64),
        _field("footerLength", 4, _F.TYPE_UINT64),
        _field("numberOfRows", 5, _F.TYPE_UINT64),
    ],
)
ORC_TYPE = _message(
    "Type",
    [
        _field("kind", 1, _F.TYPE_UINT64),
        _field("subtypes", 2, _F.TYPE_UINT64, repeated=True),
        _field("fieldNames", 3, _F.TYPE_STRING, repeated=True),
        _field("maximumLength", 4, _F.TYPE_UINT64),
        _field("precision", 5, _F.TYPE_UINT64),
        _field("scale", 6, _F.TYPE_UINT64),
    ],
)
FOOTER = _message(
    "Footer",
    [
        _field("headerLength", 1, _F.TYPE_UINT64),
        _field("contentLength", 2, _F.TYPE_UINT64),
        _field("stripes", 3, _F.TYPE_MESSAGE, repeated=True, msg=STRIPE_INFO),
        _field("types", 4, _F.TYPE_MESSAGE, repeated=True, msg=ORC_TYPE),
        _field("numberOfRows", 6, _F.TYPE_UINT64),
        _field("rowIndexStride", 8, _F.TYPE_UINT64),
    ],
)


def decompress_region(data: bytes, compression: int) -> bytes:
    """Undo ORC's 3-byte-header chunk framing over one byte region."""
    if compression == 0:
        return data
    name = COMPRESSION_NAMES.get(compression)
    if name not in ("ZLIB", "SNAPPY", "LZ4", "ZSTD"):
        raise DBPSUnsupportedError(
            f"ORC compression {name or compression} chunks are a "
            "documented seam (NONE/ZLIB/SNAPPY/LZ4/ZSTD implemented; "
            "LZO's match tables are GPL — no public-spec source)"
        )
    out = bytearray()
    pos = 0
    while pos < len(data):
        if pos + 3 > len(data):
            raise OrcFormatError("truncated chunk header")
        head = int.from_bytes(data[pos : pos + 3], "little")
        length = head >> 1
        pos += 3
        if pos + length > len(data):
            raise OrcFormatError(
                f"chunk of {length} bytes overruns the region"
            )
        chunk = data[pos : pos + length]
        pos += length
        if head & 1:  # original (stored) chunk
            out += chunk
        elif name == "ZLIB":
            try:
                dobj = zlib.decompressobj(-15)
                raw = dobj.decompress(chunk, MAX_META_BYTES + 1)
                if len(raw) > MAX_META_BYTES or dobj.unconsumed_tail:
                    raise OrcFormatError("chunk inflates past the cap")
                out += raw + dobj.flush()
            except zlib.error as e:
                raise OrcFormatError(f"zlib chunk: {e}") from None
        elif name == "SNAPPY":  # raw block, size in its own varint prefix
            if snappy_uncompressed_len(chunk) > MAX_META_BYTES:
                raise OrcFormatError("chunk inflates past the cap")
            out += _codec_decompress(chunk, CompressionCodec.SNAPPY)
        elif name == "LZ4":
            # the ORC codec hands the bare chunk to
            # LZ4_decompress_safe: a raw lz4 BLOCK, no declared size
            from .lz4codec import Lz4FormatError, read_lz4_block

            try:
                out += read_lz4_block(chunk)
            except Lz4FormatError as e:
                raise OrcFormatError(f"lz4 chunk: {e}") from None
        else:  # ZSTD — each chunk is a complete zstd frame
            from .zstdmeta import ZstdFormatError, parse_zstd_frames

            try:
                frames = parse_zstd_frames(chunk)
            except ZstdFormatError as e:
                raise OrcFormatError(f"zstd chunk: {e}") from None
            for f in frames:
                if f.get("content") is None:
                    raise OrcFormatError(
                        "zstd chunk frame did not yield content"
                    )
                out += f["content"]
        if len(out) > MAX_META_BYTES:
            raise OrcFormatError("region inflates past the cap")
    return bytes(out)


def _u(v, what: str) -> int:
    """Coerce a protobuf field to a non-negative int, domain-erroring
    on wire-type confusion (a mutated tag can hand back raw bytes)."""
    if not isinstance(v, int) or isinstance(v, bool) or v < 0:
        raise OrcFormatError(f"{what} is not a non-negative integer")
    return v


def _s(v, what: str) -> str:
    if not isinstance(v, str):
        raise OrcFormatError(f"{what} is not a string")
    return v


def _parse_pb(cls, blob: bytes, what: str):
    msg = cls()
    try:
        msg.ParseFromString(blob)
    except Exception as e:
        raise OrcFormatError(f"{what} protobuf: {e}") from None
    return msg


def parse_orc_meta(data: bytes) -> dict:
    """Whole-file (or tail-range) ORC bytes -> typed metadata dict.

    Validates the double magic, the PostScript/Footer framing, stripe
    accounting (row totals, region bounds), and the schema tree's
    root-struct shape.
    """
    if len(data) < 8 or data[:3] != b"ORC":
        raise OrcFormatError("missing ORC header magic")
    psl = data[-1]
    if psl == 0 or len(data) < 1 + psl + 1:
        raise OrcFormatError(f"postscript length {psl} out of range")
    ps = _parse_pb(
        POSTSCRIPT._concrete_class,
        data[len(data) - 1 - psl : len(data) - 1],
        "PostScript",
    )
    if _s(ps.magic, "PostScript magic") != "ORC":
        raise OrcFormatError(f"bad PostScript magic {ps.magic!r}")
    compression = _u(ps.compression, "compression")
    if compression not in COMPRESSION_NAMES:
        raise OrcFormatError(f"unknown compression id {compression}")
    flen = _u(ps.footerLength, "footerLength")
    fstart = len(data) - 1 - psl - flen
    if flen == 0 or fstart < 3:
        raise OrcFormatError(f"footer length {flen} out of range")
    footer = _parse_pb(
        FOOTER._concrete_class,
        decompress_region(data[fstart : fstart + flen], compression),
        "Footer",
    )

    types = []
    for t in footer.types:
        kind = _u(t.kind, "type kind")
        if kind not in KIND_NAMES:
            raise OrcFormatError(f"unknown type kind {kind}")
        types.append(
            {
                "kind": KIND_NAMES[kind],
                "subtypes": [_u(x, "subtype id") for x in t.subtypes],
                "field_names": [
                    _s(n, "field name") for n in t.fieldNames
                ],
                # DECIMAL parameters (Type fids 5/6) — 0/absent for
                # every other kind
                "precision": _u(t.precision, "precision"),
                "scale": _u(t.scale, "scale"),
            }
        )
    if not types:
        raise OrcFormatError("footer has no type tree")
    root = types[0]
    if root["kind"] == "STRUCT" and len(root["subtypes"]) != len(
        root["field_names"]
    ):
        raise OrcFormatError("root struct names/subtypes disagree")

    stripes = []
    rows = 0
    content_length = _u(footer.contentLength, "contentLength")
    for si in footer.stripes:
        st = {
            "offset": _u(si.offset, "stripe offset"),
            "index_length": _u(si.indexLength, "stripe indexLength"),
            "data_length": _u(si.dataLength, "stripe dataLength"),
            "footer_length": _u(si.footerLength, "stripe footerLength"),
            "num_rows": _u(si.numberOfRows, "stripe numberOfRows"),
        }
        stripe_end = (
            st["offset"]
            + st["index_length"]
            + st["data_length"]
            + st["footer_length"]
        )
        if st["offset"] < 3 or stripe_end > len(data):
            raise OrcFormatError(
                f"stripe [{st['offset']}, {stripe_end}) outside the file"
            )
        rows += st["num_rows"]
        stripes.append(st)
    num_rows = _u(footer.numberOfRows, "numberOfRows")
    if rows != num_rows:
        raise OrcFormatError(
            f"stripes carry {rows} rows, footer declares {num_rows}"
        )
    return {
        "compression": COMPRESSION_NAMES[compression],
        "compression_block_size": _u(
            ps.compressionBlockSize, "compressionBlockSize"
        ),
        "writer_version": _u(ps.writerVersion, "writerVersion"),
        "num_rows": num_rows,
        "content_length": content_length,
        "row_index_stride": _u(footer.rowIndexStride, "rowIndexStride"),
        "stripes": stripes,
        "types": types,
    }
