"""Thrift Compact Protocol reader — the wire format under Parquet metadata.

Public spec (Apache Thrift ``doc/specs/thrift-compact-protocol.md``):

* varints are ULEB128; i16/i32/i64 are zigzagged first;
* a struct is a run of field headers ``(id_delta << 4) | type`` — the
  1..15 delta is relative to the previous field id IN THIS STRUCT
  (nested structs get a fresh context); delta 0 means the full field
  id follows as a zigzag varint; a 0x00 byte is STOP;
* BOOLEAN has no payload — the value lives in the type nibble
  (1 = true, 2 = false); inside containers bools are one byte each
  using the same 1/2 codes;
* BINARY is a varint byte length then the bytes; DOUBLE is 8 bytes
  little-endian (the compact protocol's documented departure from the
  binary protocol's big-endian);
* list/set headers pack ``(size << 4) | elem_type`` with size 15
  escaping to a varint; maps are a varint size then a packed
  key/value type byte.

The reader is GENERIC: a struct parses to ``{field_id: value}`` with
nested dicts/lists — schema knowledge (which Parquet applies in
``core/parquetmeta.py``) stays a separate, typed layer.  Every read
is bounds-checked; list/map sizes and recursion depth are capped so a
hostile footer cannot drive allocation or blow the stack (the same
refuse-don't-truncate family as the container codecs).
"""

from __future__ import annotations

import struct

from .bits import uleb128, zigzag_decode, zigzag_encode
from .errors import DBPSInvalidInputError

_U64 = (1 << 64) - 1
MAX_CONTAINER = 1 << 24  # entries; far above any real footer
MAX_DEPTH = 64

T_STOP = 0
T_TRUE = 1
T_FALSE = 2
T_I8 = 3
T_I16 = 4
T_I32 = 5
T_I64 = 6
T_DOUBLE = 7
T_BINARY = 8
T_LIST = 9
T_SET = 10
T_MAP = 11
T_STRUCT = 12


class ThriftFormatError(DBPSInvalidInputError):
    """Malformed compact-protocol data."""


class ThriftReader:
    """Positional reader; ``read_struct`` is the entry point."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    # -- primitives ---------------------------------------------------------

    def _varint(self) -> int:
        u, shift = 0, 0
        data, pos = self.data, self.pos
        for i in range(10):
            if pos + i >= len(data):
                raise ThriftFormatError("truncated varint")
            b = data[pos + i]
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                self.pos = pos + i + 1
                return u
            shift += 7
        raise ThriftFormatError("varint over 10 bytes")

    def _binary(self) -> bytes:
        n = self._varint()
        if n > len(self.data) - self.pos:
            raise ThriftFormatError(
                f"binary length {n} overruns the buffer"
            )
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def _double(self) -> float:
        if self.pos + 8 > len(self.data):
            raise ThriftFormatError("truncated double")
        (v,) = struct.unpack_from("<d", self.data, self.pos)
        self.pos += 8
        return v

    def _byte(self) -> int:
        if self.pos >= len(self.data):
            raise ThriftFormatError("truncated byte")
        b = self.data[self.pos]
        self.pos += 1
        return b

    # -- values -------------------------------------------------------------

    def _value(self, vtype: int, depth: int):
        if vtype in (T_TRUE, T_FALSE):  # container bools: 1/2 bytes
            b = self._byte()
            if b == 1:
                return True
            if b == 2:
                return False
            raise ThriftFormatError(f"bad container bool byte {b}")
        if vtype == T_I8:
            b = self._byte()
            return b - 256 if b > 127 else b
        if vtype in (T_I16, T_I32, T_I64):
            return zigzag_decode(self._varint() & _U64)
        if vtype == T_DOUBLE:
            return self._double()
        if vtype == T_BINARY:
            return self._binary()
        if vtype in (T_LIST, T_SET):
            return self._list(depth)
        if vtype == T_MAP:
            return self._map(depth)
        if vtype == T_STRUCT:
            return self.read_struct(depth)
        raise ThriftFormatError(f"unknown compact type {vtype}")

    def _list(self, depth: int) -> list:
        if depth >= MAX_DEPTH:
            raise ThriftFormatError("nesting over the depth cap")
        head = self._byte()
        size = head >> 4
        etype = head & 0x0F
        if size == 15:
            size = self._varint()
        if size > MAX_CONTAINER:
            raise ThriftFormatError(f"list size {size} over the cap")
        return [self._value(etype, depth + 1) for _ in range(size)]

    def _map(self, depth: int) -> dict:
        if depth >= MAX_DEPTH:
            raise ThriftFormatError("nesting over the depth cap")
        size = self._varint()
        if size == 0:
            return {}
        if size > MAX_CONTAINER:
            raise ThriftFormatError(f"map size {size} over the cap")
        kv = self._byte()
        ktype, vtype = kv >> 4, kv & 0x0F
        out = {}
        for _ in range(size):
            k = self._value(ktype, depth + 1)
            if isinstance(k, (bytes, bytearray)):
                k = bytes(k)
            out[k] = self._value(vtype, depth + 1)
        return out

    # -- structs ------------------------------------------------------------

    def read_struct(self, depth: int = 0) -> dict:
        """-> {field_id: value}; BOOLEAN field values come from the
        type nibble, so they never touch the payload stream."""
        if depth >= MAX_DEPTH:
            raise ThriftFormatError("nesting over the depth cap")
        fields = {}
        last_id = 0
        while True:
            head = self._byte()
            if head == T_STOP:
                return fields
            delta = head >> 4
            ftype = head & 0x0F
            if delta:
                fid = last_id + delta
            else:
                fid = zigzag_decode(self._varint() & _U64)
            if not -(1 << 15) <= fid < (1 << 15):
                raise ThriftFormatError(f"field id {fid} out of i16")
            last_id = fid
            if ftype == T_TRUE:
                fields[fid] = True
            elif ftype == T_FALSE:
                fields[fid] = False
            else:
                fields[fid] = self._value(ftype, depth + 1)


class ThriftWriter:
    """Compact-protocol serializer — the write half of the reader
    above, covering the shapes parquet metadata needs (zigzag ints,
    binary, typed lists, nested structs, nibble booleans).  Fields
    must be supplied in ascending id order per struct (the delta
    encoding's precondition; enforced)."""

    def __init__(self):
        self.out = bytearray()

    def _field_header(self, last_id: int, fid: int, ftype: int) -> int:
        delta = fid - last_id
        if delta <= 0:
            raise ThriftFormatError(
                f"fields must ascend: {fid} after {last_id}"
            )
        if delta <= 15:
            self.out.append((delta << 4) | ftype)
        else:
            self.out.append(ftype)
            self.out += uleb128(zigzag_encode(fid))
        return fid

    # -- struct assembly ----------------------------------------------------

    def write_struct(self, fields: list) -> None:
        """fields: ascending [(id, type, value)]; value conventions
        match the reader (int, bytes, bool, list as (etype, items),
        struct as nested fields list)."""
        last = 0
        for fid, ftype, value in fields:
            if ftype in (T_TRUE, T_FALSE):
                last = self._field_header(
                    last, fid, T_TRUE if value else T_FALSE
                )
                continue
            last = self._field_header(last, fid, ftype)
            self._value(ftype, value)
        self.out.append(T_STOP)

    def _value(self, vtype: int, value) -> None:
        if vtype in (T_I16, T_I32, T_I64):
            self.out += uleb128(zigzag_encode(int(value)))
        elif vtype == T_I8:
            self.out.append(int(value) & 0xFF)
        elif vtype == T_DOUBLE:
            self.out += struct.pack("<d", float(value))
        elif vtype == T_BINARY:
            b = bytes(value)
            self.out += uleb128(len(b))
            self.out += b
        elif vtype in (T_LIST, T_SET):
            etype, items = value
            n = len(items)
            if n < 15:
                self.out.append((n << 4) | etype)
            else:
                self.out.append((15 << 4) | etype)
                self.out += uleb128(n)
            for item in items:
                if etype in (T_TRUE, T_FALSE):
                    self.out.append(1 if item else 2)
                elif etype == T_STRUCT:
                    self.write_struct(item)
                else:
                    self._value(etype, item)
        elif vtype == T_STRUCT:
            self.write_struct(value)
        else:
            raise ThriftFormatError(f"unwritable compact type {vtype}")

    def getvalue(self) -> bytes:
        return bytes(self.out)
