"""Apache Avro Object Container File (OCF) — header, blocks, binary rows.

Public wire format (Avro 1.11 specification, "Object Container Files"
+ "Binary Encoding"):

* header: magic ``Obj\\x01``, a file-metadata map (``avro.schema`` =
  the writer schema JSON, ``avro.codec``), a 16-byte sync marker;
* each data block: object count (zigzag long), byte size (zigzag
  long), the serialized objects (optionally compressed), then the
  header's sync marker repeated — the resync point that makes OCF
  splittable, which is exactly why it matters at 100 TB: a Spark
  input split seeks to the next sync and reads whole blocks.
* binary rows: zigzag-varint longs/ints, length-prefixed strings and
  bytes, 1-byte booleans, little-endian IEEE doubles, and
  ``["null", T]`` unions as a zigzag branch index then the value.

Codecs: ``null`` (raw), ``deflate`` (raw zlib stream, wbits=-15),
``snappy`` (raw snappy + the spec's 4-byte big-endian CRC-32 of the
UNCOMPRESSED bytes — routed through ``core/compression.py``).  Other
codecs raise the documented unsupported error.

The schema subset covers flat records over the primitive types above
— the shapes the fixture tables need; nested records/arrays/maps/
enums/fixed are a named seam (``AvroFormatError``).  Both directions
are total: every varint is bounds-checked, block sizes are capped
before allocation, sync markers are verified per block, and a decoded
block must consume EXACTLY its stated byte size.
"""

from __future__ import annotations

import json
import struct
import zlib

from .bits import uleb128, zigzag_decode, zigzag_encode
from .compression import compress as _compress
from .compression import decompress as _decompress
from .errors import DBPSInvalidInputError
from .types import CompressionCodec

MAGIC = b"Obj\x01"
MAX_BLOCK_BYTES = 1 << 30
_PRIMITIVES = {"long", "int", "string", "bytes", "boolean", "double"}


class AvroFormatError(DBPSInvalidInputError):
    """Malformed or out-of-subset Avro container/binary data."""


# ---------------------------------------------------------------------------
# varint / primitive codecs
# ---------------------------------------------------------------------------


def write_long(n: int) -> bytes:
    return uleb128(zigzag_encode(n))


def read_long(data: bytes, pos: int) -> tuple:
    u, shift = 0, 0
    for i in range(10):  # 64-bit zigzag fits in 10 varint bytes
        if pos + i >= len(data):
            raise AvroFormatError("truncated varint")
        b = data[pos + i]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return zigzag_decode(u), pos + i + 1
        shift += 7
    raise AvroFormatError("varint over 10 bytes")


def _read_len_prefixed(data: bytes, pos: int) -> tuple:
    n, pos = read_long(data, pos)
    if n < 0 or n > MAX_BLOCK_BYTES:
        raise AvroFormatError(f"bad length {n}")
    if pos + n > len(data):
        raise AvroFormatError("length-prefixed value overruns data")
    return data[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# schema subset
# ---------------------------------------------------------------------------


def _field_kind(ftype) -> tuple:
    """-> (kind, nullable); kind is a primitive name."""
    if isinstance(ftype, str):
        if ftype not in _PRIMITIVES:
            raise AvroFormatError(
                f"type {ftype!r} is outside the flat-record subset"
            )
        return ftype, False
    if (
        isinstance(ftype, list)
        and len(ftype) == 2
        and ftype[0] == "null"
        and isinstance(ftype[1], str)
        and ftype[1] in _PRIMITIVES
    ):
        return ftype[1], True
    raise AvroFormatError(
        f"type {ftype!r} is outside the flat-record subset"
    )


def _check_schema(schema: dict) -> list:
    if not isinstance(schema, dict) or schema.get("type") != "record":
        raise AvroFormatError("writer schema must be a record")
    fields = schema.get("fields")
    if not isinstance(fields, list) or not fields:
        raise AvroFormatError("record schema needs fields")
    out = []
    for f in fields:
        if not isinstance(f, dict) or not isinstance(f.get("name"), str):
            raise AvroFormatError(f"malformed field entry {f!r}")
        if "type" not in f:
            raise AvroFormatError(f"field {f['name']!r} missing a type")
        out.append((f["name"], *_field_kind(f["type"])))
    return out


def _encode_value(kind: str, v) -> bytes:
    if kind in ("long", "int"):
        return write_long(int(v))
    if kind == "string":
        b = v.encode("utf-8")
        return write_long(len(b)) + b
    if kind == "bytes":
        return write_long(len(v)) + bytes(v)
    if kind == "boolean":
        return b"\x01" if v else b"\x00"
    if kind == "double":
        return struct.pack("<d", float(v))
    raise AvroFormatError(f"unencodable kind {kind!r}")


def _decode_value(kind: str, data: bytes, pos: int) -> tuple:
    if kind in ("long", "int"):
        return read_long(data, pos)
    if kind == "string":
        b, pos = _read_len_prefixed(data, pos)
        try:
            return b.decode("utf-8"), pos
        except UnicodeDecodeError as e:
            raise AvroFormatError(f"string is not UTF-8: {e}") from None
    if kind == "bytes":
        return _read_len_prefixed(data, pos)
    if kind == "boolean":
        if pos >= len(data):
            raise AvroFormatError("truncated boolean")
        if data[pos] not in (0, 1):
            raise AvroFormatError(f"bad boolean byte {data[pos]}")
        return bool(data[pos]), pos + 1
    if kind == "double":
        if pos + 8 > len(data):
            raise AvroFormatError("truncated double")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    raise AvroFormatError(f"undecodable kind {kind!r}")


# ---------------------------------------------------------------------------
# block codecs
# ---------------------------------------------------------------------------


def _block_compress(raw: bytes, codec: str) -> bytes:
    if codec == "null":
        return raw
    if codec == "deflate":
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        return co.compress(raw) + co.flush()
    if codec == "snappy":
        body = _compress(raw, CompressionCodec.SNAPPY)
        return body + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF)
    raise AvroFormatError(f"unsupported avro.codec {codec!r}")


def _block_decompress(blob: bytes, codec: str) -> bytes:
    if codec == "null":
        return blob
    if codec == "deflate":
        try:
            dobj = zlib.decompressobj(-15)
            out = dobj.decompress(blob, MAX_BLOCK_BYTES + 1)
            if len(out) > MAX_BLOCK_BYTES or dobj.unconsumed_tail:
                raise AvroFormatError("deflate block over the cap")
            return out + dobj.flush()
        except zlib.error as e:
            raise AvroFormatError(f"deflate block: {e}") from e
    if codec == "snappy":
        if len(blob) < 4:
            raise AvroFormatError("snappy block missing its CRC")
        raw = _decompress(blob[:-4], CompressionCodec.SNAPPY)
        (want,) = struct.unpack(">I", blob[-4:])
        if zlib.crc32(raw) & 0xFFFFFFFF != want:
            raise AvroFormatError("snappy block CRC mismatch")
        return raw
    raise AvroFormatError(f"unsupported avro.codec {codec!r}")


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def encode_avro_ocf(
    records: list,
    schema: dict,
    *,
    codec: str = "null",
    sync: bytes = b"\x00" * 16,
    block_records: int = 1000,
) -> bytes:
    """Rows (dicts) + flat-record schema -> a spec-compliant OCF."""
    fields = _check_schema(schema)
    if len(sync) != 16:
        raise AvroFormatError("sync marker must be 16 bytes")
    _block_compress(b"", codec)  # validate codec name up front
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(MAGIC)
    out += write_long(len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out += write_long(len(kb)) + kb
        out += write_long(len(v)) + v
    out += write_long(0)  # map terminator
    out += sync
    for at in range(0, len(records), block_records):
        chunk = records[at : at + block_records]
        raw = bytearray()
        for rec in chunk:
            for name, kind, nullable in fields:
                v = rec.get(name)
                if nullable:
                    if v is None:
                        raw += write_long(0)
                        continue
                    raw += write_long(1)
                elif v is None:
                    raise AvroFormatError(
                        f"field {name!r} is not nullable"
                    )
                raw += _encode_value(kind, v)
        body = _block_compress(bytes(raw), codec)
        out += write_long(len(chunk))
        out += write_long(len(body))
        out += body
        out += sync
    return bytes(out)


def parse_avro_ocf(data: bytes) -> dict:
    """-> {schema, codec, sync, n_blocks, records}; every block's sync
    marker verified, every block decoded to EXACTLY its object count."""
    if data[:4] != MAGIC:
        raise AvroFormatError(f"bad magic {data[:4]!r}")
    pos = 4
    meta = {}
    while True:
        count, pos = read_long(data, pos)
        if count == 0:
            break
        if count < 0:  # spec: negative count is followed by a byte size
            count = -count
            _size, pos = read_long(data, pos)
        if count > 1 << 20:
            raise AvroFormatError(f"metadata map count {count} absurd")
        for _ in range(count):
            kb, pos = _read_len_prefixed(data, pos)
            vb, pos = _read_len_prefixed(data, pos)
            try:
                meta[kb.decode("utf-8")] = vb
            except UnicodeDecodeError as e:
                raise AvroFormatError(
                    f"metadata key is not UTF-8: {e}"
                ) from None
    if pos + 16 > len(data):
        raise AvroFormatError("truncated header sync marker")
    sync = data[pos : pos + 16]
    pos += 16

    try:
        schema = json.loads(meta["avro.schema"].decode("utf-8"))
    except KeyError:
        raise AvroFormatError("header missing avro.schema") from None
    except (ValueError, UnicodeDecodeError) as e:
        raise AvroFormatError(f"bad avro.schema JSON: {e}") from None
    codec = meta.get("avro.codec", b"null").decode("ascii", "replace")
    fields = _check_schema(schema)

    records = []
    n_blocks = 0
    while pos < len(data):
        count, pos = read_long(data, pos)
        if count <= 0:
            raise AvroFormatError(f"bad block object count {count}")
        size, pos = read_long(data, pos)
        if size < 0 or size > MAX_BLOCK_BYTES:
            raise AvroFormatError(f"bad block size {size}")
        if pos + size + 16 > len(data):
            raise AvroFormatError("block overruns the container")
        raw = _block_decompress(data[pos : pos + size], codec)
        pos += size
        if data[pos : pos + 16] != sync:
            raise AvroFormatError(
                f"sync marker mismatch after block {n_blocks}"
            )
        pos += 16
        rp = 0
        for _ in range(count):
            rec = {}
            for name, kind, nullable in fields:
                if nullable:
                    branch, rp = read_long(raw, rp)
                    if branch == 0:
                        rec[name] = None
                        continue
                    if branch != 1:
                        raise AvroFormatError(
                            f"union branch {branch} out of range"
                        )
                rec[name], rp = _decode_value(kind, raw, rp)
            records.append(rec)
        if rp != len(raw):
            raise AvroFormatError(
                f"block {n_blocks} has {len(raw) - rp} trailing bytes"
            )
        n_blocks += 1
    return {
        "schema": schema,
        "codec": codec,
        "sync": sync,
        "n_blocks": n_blocks,
        "records": records,
    }
