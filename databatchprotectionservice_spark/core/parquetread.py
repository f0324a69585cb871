"""Parquet column reader — real value decode with no black box.

Composes the from-scratch layers into the read path itself: the
footer/page walk (``core/parquetmeta.py``) locates pages, the codec
layer (``core/compression.py``) inflates them, and THIS module
decodes what is inside a flat column's pages per the public
parquet-format encodings:

* V1 data pages: ``[u32 len][definition levels]`` then values; V2
  data pages: uncompressed level runs up front (lengths from the
  header), values compressed per ``is_compressed``;
* definition levels and dictionary indices share the hybrid
  RLE/bit-packed encoding (ULEB128 run headers, LSB-first groups of
  8) — decoded here in full, not just counted;
* ``PLAIN`` values for BOOLEAN (bit-packed LSB), INT32/INT64/FLOAT/
  DOUBLE (little-endian), INT96 (12-byte), BYTE_ARRAY (u32-prefixed)
  and FIXED_LEN_BYTE_ARRAY;
* ``RLE_DICTIONARY`` / ``PLAIN_DICTIONARY`` data pages: a 1-byte
  index bit width, hybrid-run indices into the (PLAIN-decoded)
  dictionary page;
* the DELTA family (r14): ``DELTA_BINARY_PACKED`` (modular
  block/miniblock deltas for INT32/INT64),
  ``DELTA_LENGTH_BYTE_ARRAY`` (delta-packed lengths + concatenated
  bytes) and ``DELTA_BYTE_ARRAY`` (front coding: shared-prefix
  lengths + suffixes) — pinned against pyarrow-written files in
  both page versions.

Null placement follows the decoded definition levels, and nested
(REPEATED) columns are reassembled into records by the Dremel
striping algorithm in reverse: for each leaf slot the repetition
level says which enclosing list the entry continues and the
definition level how deep the path is defined, so a chain path
(LIST wrappers, repeated groups, map key_value, the leaf) rebuilds
``None`` / ``[]`` / ``[None]`` / values exactly — see
``assemble_nested``.  The reference's level machinery carries
repetition levels as opaque framed bytes
(``parquet_utils.cpp:191-222``); this reader decodes them fully.
BRANCHING structs close the loop (:func:`read_record_field`): every
leaf of a subtree shares the record structure above their common
ancestors, so each leaf assembles independently in MARKED mode
(``_NullAt`` carries the break depth) and the schema tree zips the
assemblies — struct, nested struct, list<struct>, struct-of-list,
maps and list<list<struct>> all reassemble to pyarrow-identical
records; no nesting seam remains on the read side.
Every page must consume its byte budget and yield exactly its
declared value count — short pages raise rather than truncate.  The
unit suite pins decoded values against pyarrow's reader
column-for-column on real files, including list columns.
``read_column`` also accepts an explicit page subset
(``parquetmeta.indexed_pages`` — the r14 ColumnIndex page-skip
path), checking the decoded total against the subset's declaration.
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import zigzag_decode
from .compression import decompress as _decompress
from .errors import DBPSInvalidInputError
from .pagecodec import read_uleb128
from .parquetmeta import (
    PAGE_DATA,
    PAGE_DATA_V2,
    PAGE_DICTIONARY,
    walk_pages,
)
from .types import CompressionCodec

_PLAIN = 0
_PLAIN_DICTIONARY = 2
_DELTA_BINARY_PACKED = 5
_DELTA_LENGTH_BYTE_ARRAY = 6
_DELTA_BYTE_ARRAY = 7
_RLE = 3
_RLE_DICTIONARY = 8


class ParquetReadError(DBPSInvalidInputError):
    """Out-of-subset or malformed column content."""


def _inflate(body: bytes, codec, size: int) -> bytes:
    """Page inflate through the shared compression layer, whose
    declared sizes are exact.  The layer refuses hadoop-framed LZ4
    (parquet codec 5) — its unsupported set mirrors the reference's
    per-block fallback matrix and must not widen — so this walks the
    framing, repeated ``[u32be uncompressed][u32be compressed][raw
    LZ4 block]`` chunks, and hands each block to the layer as
    LZ4_RAW."""
    if codec != CompressionCodec.LZ4:
        return _layer_decompress(body, codec, size)
    out = bytearray()
    pos = 0
    while pos < len(body):
        if pos + 8 > len(body):
            raise ParquetReadError("truncated hadoop-LZ4 chunk header")
        want = int.from_bytes(body[pos : pos + 4], "big")
        clen = int.from_bytes(body[pos + 4 : pos + 8], "big")
        pos += 8
        if pos + clen > len(body):
            raise ParquetReadError("hadoop-LZ4 chunk overruns the page")
        out += _layer_decompress(
            body[pos : pos + clen], CompressionCodec.LZ4_RAW, want
        )
        pos += clen
    if len(out) != size:
        raise ParquetReadError(
            f"hadoop-LZ4 page inflated to {len(out)}, declared {size}"
        )
    return bytes(out)


def _layer_decompress(body: bytes, codec, size: int) -> bytes:
    try:
        return _decompress(body, codec, size)
    except DBPSInvalidInputError as e:
        raise ParquetReadError(f"{codec.name} page: {e}") from None


def _verify_page_crc(page: dict, body: bytes) -> None:
    """When the header carries a CRC (PageHeader fid 4), it must
    match CRC-32 over the payload bytes — a flipped bit fails loudly
    here instead of mis-decoding downstream."""
    crc = page.get("crc")
    if crc is None:
        return
    import zlib

    got = zlib.crc32(body)
    if got != crc:
        raise ParquetReadError(
            f"page CRC mismatch: header {crc:#010x}, payload {got:#010x}"
        )


class _NullAt:
    """Marked-decode placeholder: the leaf's path broke at definition
    level ``d``.  Cross-column record assembly (:func:`read_record_field`)
    needs the break DEPTH — a null struct and a present struct with a
    null leaf both flatten to None, but their markers differ — while
    plain single-column reads strip markers to None."""

    __slots__ = ("d",)

    def __init__(self, d: int) -> None:
        self.d = d

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"_NullAt({self.d})"


def _hybrid_decode(
    payload: bytes, offset: int, bit_width: int, count: int
) -> tuple:
    """Decode ``count`` values from a hybrid RLE/bit-packed stream."""
    if bit_width == 0:
        return np.zeros(count, dtype=np.int64), offset
    if bit_width > 32:
        raise ParquetReadError(f"bit width {bit_width} out of range")
    out = np.empty(count, dtype=np.int64)
    done = 0
    while done < count:
        header, offset = read_uleb128(payload, offset)
        if header & 1 == 0:  # RLE run
            run = header >> 1
            if run == 0 or run > count - done:
                raise ParquetReadError("invalid RLE run length")
            bw = (bit_width + 7) // 8
            if offset + bw > len(payload):
                raise ParquetReadError("truncated RLE run value")
            out[done : done + run] = int.from_bytes(
                payload[offset : offset + bw], "little"
            )
            offset += bw
            done += run
        else:  # bit-packed groups of 8
            groups = header >> 1
            if groups == 0:
                raise ParquetReadError("invalid bit-packed run")
            run = groups * 8
            nbytes = run * bit_width // 8
            if offset + nbytes > len(payload):
                raise ParquetReadError("truncated bit-packed run")
            packed = np.frombuffer(
                payload, dtype=np.uint8, count=nbytes, offset=offset
            )
            offset += nbytes
            todo = min(run, count - done)
            bit_idx = (
                np.arange(todo, dtype=np.int64)[:, None] * bit_width
                + np.arange(bit_width, dtype=np.int64)
            )
            bits = (packed[bit_idx >> 3] >> (bit_idx & 7)) & 1
            out[done : done + todo] = (
                bits.astype(np.int64) << np.arange(bit_width)
            ).sum(axis=1)
            done += todo
    return out, offset


def _plain_decode(raw: bytes, offset: int, n: int, ptype: str,
                  type_length) -> tuple:
    """Decode n PLAIN values of a physical type; -> (list, new_offset)."""
    if ptype == "INT32":
        end = offset + 4 * n
        if end > len(raw):
            raise ParquetReadError("PLAIN INT32 overruns the page")
        return (
            np.frombuffer(raw, "<i4", n, offset).tolist(), end,
        )
    if ptype == "INT64":
        end = offset + 8 * n
        if end > len(raw):
            raise ParquetReadError("PLAIN INT64 overruns the page")
        return np.frombuffer(raw, "<i8", n, offset).tolist(), end
    if ptype == "FLOAT":
        end = offset + 4 * n
        if end > len(raw):
            raise ParquetReadError("PLAIN FLOAT overruns the page")
        return np.frombuffer(raw, "<f4", n, offset).tolist(), end
    if ptype == "DOUBLE":
        end = offset + 8 * n
        if end > len(raw):
            raise ParquetReadError("PLAIN DOUBLE overruns the page")
        return np.frombuffer(raw, "<f8", n, offset).tolist(), end
    if ptype == "INT96":
        end = offset + 12 * n
        if end > len(raw):
            raise ParquetReadError("PLAIN INT96 overruns the page")
        return (
            [raw[offset + 12 * i : offset + 12 * i + 12] for i in range(n)],
            end,
        )
    if ptype == "BOOLEAN":
        nbytes = (n + 7) // 8
        end = offset + nbytes
        if end > len(raw):
            raise ParquetReadError("PLAIN BOOLEAN overruns the page")
        packed = np.frombuffer(raw, np.uint8, nbytes, offset)
        bits = np.unpackbits(packed, bitorder="little")[:n]
        return [bool(b) for b in bits], end
    if ptype == "BYTE_ARRAY":
        out = []
        for _ in range(n):
            if offset + 4 > len(raw):
                raise ParquetReadError("BYTE_ARRAY length overruns")
            (ln,) = struct.unpack_from("<I", raw, offset)
            offset += 4
            if offset + ln > len(raw):
                raise ParquetReadError("BYTE_ARRAY value overruns")
            out.append(raw[offset : offset + ln])
            offset += ln
        return out, offset
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        if not type_length or type_length <= 0:
            raise ParquetReadError("FLBA without a type length")
        end = offset + type_length * n
        if end > len(raw):
            raise ParquetReadError("FLBA overruns the page")
        return (
            [
                raw[offset + type_length * i : offset + type_length * (i + 1)]
                for i in range(n)
            ],
            end,
        )
    raise ParquetReadError(f"unsupported physical type {ptype}")


def leaf_elements(schema: list) -> list:
    """Pre-order flattened schema -> [(leaf_element, is_nested)] in
    column-chunk order; ``is_nested`` marks leaves under a REPEATED
    ancestor (lists/maps), which carry repetition levels this reader
    treats as the documented seam."""
    out = []

    def walk(idx: int, under_repeated: bool) -> int:
        el = schema[idx]
        rep = under_repeated or el["repetition"] == "REPEATED"
        nxt = idx + 1
        if el["num_children"] == 0:
            out.append((el, rep))
            return nxt
        for _ in range(el["num_children"]):
            nxt = walk(nxt, rep)
        return nxt

    root = schema[0]
    nxt = 1
    for _ in range(root["num_children"]):
        nxt = walk(nxt, False)
    return out


def _uvarint64(raw: bytes, pos: int) -> tuple:
    """ULEB128 up to 64 bits — DELTA headers carry full-width zigzag
    ints, wider than the 32-bit level-stream varints
    ``read_uleb128`` bounds."""
    value, shift = 0, 0
    while True:
        if pos >= len(raw):
            raise ParquetReadError("truncated varint in delta stream")
        b = raw[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            return value, pos
        shift += 7
        if shift > 63:
            raise ParquetReadError("delta varint over 64 bits")


def _wrap_signed(v: int, bits: int) -> int:
    v &= (1 << bits) - 1
    return v - (1 << bits) if v >= (1 << (bits - 1)) else v


def _delta_bp_decode(raw: bytes, pos: int, bits: int) -> tuple:
    """DELTA_BINARY_PACKED (Encodings.md): header (block size,
    miniblocks/block, total count, zigzag first value), then blocks
    of (zigzag min delta, per-miniblock bit widths, LSB-first
    bit-packed ``delta - min_delta``).  Arithmetic is modular in the
    type's width, per the spec.  -> (values, new pos)."""
    block, pos = _uvarint64(raw, pos)
    minis, pos = _uvarint64(raw, pos)
    total, pos = _uvarint64(raw, pos)
    first, pos = _uvarint64(raw, pos)
    first = zigzag_decode(first)
    if block <= 0 or block % 128 or minis <= 0 or block % minis:
        raise ParquetReadError(
            f"delta header: block {block} / miniblocks {minis}"
        )
    # allocation bounds: the header's varints are attacker-controlled.
    # Real writers use block sizes 128..4096, so 65536 is already far
    # past any legitimate file; and a valid stream carrying ``total``
    # values MUST contain ceil((total-1)/block) block records of at
    # least (1 + minis) bytes each — a total above that byte-implied
    # bound cannot decode and only fuels a w=0 append bomb.
    if block > 65536 or minis > 512:
        raise ParquetReadError(
            f"delta header: block {block} / miniblocks {minis} over "
            "the sanity bound"
        )
    if total > 1 + block * (1 + (len(raw) - pos) // (1 + minis)):
        raise ParquetReadError(
            f"delta header: {total} values cannot fit the remaining "
            f"{len(raw) - pos} bytes"
        )
    per_mini = block // minis
    if per_mini % 32:
        raise ParquetReadError(
            f"delta miniblock of {per_mini} values not a multiple of 32"
        )
    out = [_wrap_signed(first, bits)]
    while len(out) < total:
        min_delta, pos = _uvarint64(raw, pos)
        min_delta = zigzag_decode(min_delta)
        if pos + minis > len(raw):
            raise ParquetReadError("delta bit widths overrun the page")
        widths = raw[pos : pos + minis]
        pos += minis
        prev = out[-1]
        for w in widths:
            if len(out) >= total:
                # trailing miniblocks of the last block carry no bytes
                continue
            if w > bits:
                raise ParquetReadError(
                    f"delta miniblock width {w} over the type's {bits}"
                )
            nbytes = per_mini * w // 8
            if pos + nbytes > len(raw):
                raise ParquetReadError("delta miniblock overruns the page")
            if w == 0:
                unpacked = [0] * per_mini
            else:
                packed = np.frombuffer(
                    raw, dtype=np.uint8, count=nbytes, offset=pos
                )
                bit_idx = (
                    np.arange(per_mini, dtype=np.int64)[:, None] * w
                    + np.arange(w, dtype=np.int64)
                )
                bvals = (packed[bit_idx >> 3] >> (bit_idx & 7)) & 1
                # object dtype keeps >63-bit deltas exact
                unpacked = [
                    int(x)
                    for x in (
                        bvals.astype(object) << np.arange(w, dtype=object)
                    ).sum(axis=1)
                ]
            pos += nbytes
            for dv in unpacked:
                if len(out) >= total:
                    break
                prev = _wrap_signed(prev + min_delta + dv, bits)
                out.append(prev)
    return out[:total], pos


def _delta_len_ba_decode(raw: bytes, pos: int, n: int) -> tuple:
    """DELTA_LENGTH_BYTE_ARRAY: delta-packed lengths, then the
    concatenated value bytes."""
    lens, pos = _delta_bp_decode(raw, pos, 32)
    if len(lens) != n:
        raise ParquetReadError(
            f"delta-length stream has {len(lens)} lengths for {n} values"
        )
    out = []
    for ln in lens:
        if ln < 0 or pos + ln > len(raw):
            raise ParquetReadError("delta-length value overruns the page")
        out.append(raw[pos : pos + ln])
        pos += ln
    return out, pos


def _delta_ba_decode(raw: bytes, pos: int, n: int) -> tuple:
    """DELTA_BYTE_ARRAY (incremental/front coding): delta-packed
    shared-prefix lengths + DELTA_LENGTH_BYTE_ARRAY suffixes."""
    prefixes, pos = _delta_bp_decode(raw, pos, 32)
    if len(prefixes) != n:
        raise ParquetReadError(
            f"delta prefix stream has {len(prefixes)} for {n} values"
        )
    suffixes, pos = _delta_len_ba_decode(raw, pos, n)
    out = []
    prev = b""
    for pfx, sfx in zip(prefixes, suffixes):
        if pfx < 0 or pfx > len(prev):
            raise ParquetReadError(
                f"delta prefix {pfx} exceeds previous value"
            )
        prev = prev[:pfx] + sfx
        out.append(prev)
    return out, pos


def _decode_values(
    raw: bytes, pos: int, n_present: int, enc: int, ptype: str,
    tlen, dict_values,
) -> tuple:
    """Decode ``n_present`` leaf values per the page's encoding —
    the value section shared by the flat and nested read paths."""
    if enc == _PLAIN:
        return _plain_decode(raw, pos, n_present, ptype, tlen)
    if enc == _RLE and ptype == "BOOLEAN":
        # spec: RLE-encoded booleans are a u32-length-prefixed
        # hybrid stream at bit width 1
        if pos + 4 > len(raw):
            raise ParquetReadError("truncated RLE boolean length")
        (blen,) = struct.unpack_from("<I", raw, pos)
        pos += 4
        if pos + blen > len(raw):
            raise ParquetReadError("RLE booleans overrun the page")
        bits, _ = _hybrid_decode(raw[pos : pos + blen], 0, 1, n_present)
        pos += blen
        return [bool(b) for b in bits], pos
    if enc in (_RLE_DICTIONARY, _PLAIN_DICTIONARY):
        if dict_values is None:
            raise ParquetReadError(
                "dictionary-encoded page without a dictionary"
            )
        if pos >= len(raw):
            raise ParquetReadError("missing index bit width")
        bw = raw[pos]
        pos += 1
        idx, pos = _hybrid_decode(raw, pos, bw, n_present)
        if n_present and (
            idx.min() < 0 or idx.max() >= len(dict_values)
        ):
            raise ParquetReadError("dictionary index out of range")
        return [dict_values[i] for i in idx], pos
    if enc == _DELTA_BINARY_PACKED:
        if ptype not in ("INT32", "INT64"):
            raise ParquetReadError(
                f"DELTA_BINARY_PACKED on {ptype} (INT32/INT64 only)"
            )
        vals, pos = _delta_bp_decode(
            raw, pos, 32 if ptype == "INT32" else 64
        )
        if len(vals) != n_present:
            raise ParquetReadError(
                f"delta stream has {len(vals)} values for {n_present}"
            )
        return vals, pos
    if enc == _DELTA_LENGTH_BYTE_ARRAY:
        if ptype != "BYTE_ARRAY":
            raise ParquetReadError(
                f"DELTA_LENGTH_BYTE_ARRAY on {ptype}"
            )
        return _delta_len_ba_decode(raw, pos, n_present)
    if enc == _DELTA_BYTE_ARRAY:
        if ptype not in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
            raise ParquetReadError(f"DELTA_BYTE_ARRAY on {ptype}")
        return _delta_ba_decode(raw, pos, n_present)
    raise ParquetReadError(f"value encoding {enc} is a seam")


def leaf_paths(schema: list) -> list:
    """Pre-order flattened schema -> [(leaf_element, path)] in
    column-chunk order, where ``path`` is the ancestor chain from the
    first non-root node down to and including the leaf.  The path
    carries everything level decode needs: each OPTIONAL/REPEATED
    node contributes a definition level, each REPEATED node a
    repetition level (``assemble_nested`` documents the algebra)."""
    out = []

    def walk(idx: int, trail: list) -> int:
        el = schema[idx]
        path = trail + [el]
        nxt = idx + 1
        if el["num_children"] == 0:
            out.append((el, path))
            return nxt
        for _ in range(el["num_children"]):
            nxt = walk(nxt, path)
        return nxt

    root = schema[0]
    nxt = 1
    for _ in range(root["num_children"]):
        nxt = walk(nxt, [])
    return out


def _chain_levels(path: list) -> tuple:
    """-> (max_def, max_rep, actions) for a leaf's ancestor chain.

    ``actions[d]`` for each definition level d in ``0..max_def`` is
    ``(depth, terminator)``: the entry is present through ``depth``
    enclosing repeated lists, then terminates with

    * ``"value"`` — d == max_def, the leaf value itself is present;
    * ``"empty"`` — the first undefined non-required node is REPEATED,
      i.e. its enclosing group exists with zero entries -> ``[]``;
    * ``"null"``  — the first undefined non-required node is OPTIONAL
      -> ``None`` (a null list wrapper, null struct, or null element).
    """
    cum_def = 0
    nodes = []  # (cum_def_at_node, repetition)
    rep_defs = []  # cum_def at each REPEATED node, outermost first
    for el in path:
        r = el["repetition"]
        if r in ("OPTIONAL", "REPEATED"):
            cum_def += 1
            nodes.append((cum_def, r))
            if r == "REPEATED":
                rep_defs.append(cum_def)
    max_def, max_rep = cum_def, len(rep_defs)
    actions = []
    for d in range(max_def + 1):
        depth = sum(1 for dl in rep_defs if dl <= d)
        if d == max_def:
            actions.append((depth, "value"))
            continue
        nxt_rep = next(r for dl, r in nodes if dl == d + 1)
        actions.append(
            (depth, "empty" if nxt_rep == "REPEATED" else "null")
        )
    return max_def, max_rep, actions


def assemble_nested(
    reps, defs, values, path: list, *, marked: bool = False
) -> list:
    """Dremel record assembly for ONE leaf column -> list of records.

    ``reps``/``defs`` are the chunk's repetition/definition level
    streams (one slot per leaf entry), ``values`` the present leaf
    values in order.  Each slot with repetition level r continues the
    r-th enclosing repeated list (r == 0 starts a new record); its
    definition level selects a terminator via ``_chain_levels``:
    either the leaf value, an empty list at the first undefined
    repeated node, or ``None`` at the first undefined optional node.
    Works for any CHAIN path — LIST wrappers (2- and 3-level
    encodings), nested lists, map key/value legs — because a single
    column's record structure is fully determined by its own levels
    (Dremel §4.1; the reference treats these as opaque bytes,
    ``parquet_utils.cpp:191-222``)."""
    max_def, max_rep, actions = _chain_levels(path)
    records: list = []
    stack: list = []  # open repeated containers, outermost first
    vi = 0
    for r, d in zip(reps, defs):
        r = int(r)
        depth, term = actions[int(d)]
        if r == 0:
            stack = []
            records.append(None)
        elif r > len(stack) or r > depth:
            raise ParquetReadError(
                f"repetition level {r} exceeds open depth"
            )
        else:
            del stack[r:]
        while len(stack) < depth:
            new: list = []
            if stack:
                stack[-1].append(new)
            else:
                records[-1] = new
            stack.append(new)
        if term == "value":
            v = values[vi]
            vi += 1
            if stack:
                stack[-1].append(v)
            else:
                records[-1] = v
        elif term == "empty":
            if stack:
                stack[-1].append([])
            else:
                records[-1] = []
        else:  # "null"
            hole = _NullAt(int(d)) if marked else None
            if stack:
                stack[-1].append(hole)
            else:
                records[-1] = hole
    if vi != len(values):
        raise ParquetReadError(
            f"assembly consumed {vi} of {len(values)} values"
        )
    return records


def read_column(
    data: bytes,
    column: dict,
    leaf: dict,
    *,
    nested: bool = False,
    path: list | None = None,
    marked: bool = False,
    pages: list | None = None,
) -> list:
    """Decode one column chunk to Python values (None = null).

    ``column`` is a ``parse_footer`` column dict; ``leaf`` its schema
    element.  Flat columns (repetition REQUIRED/OPTIONAL at the top
    level) decode directly; a leaf under REPEATED ancestors needs its
    ``path`` (from ``leaf_paths``) and returns assembled records —
    nested Python lists with ``None`` for null lists/elements.

    ``pages``: an explicit page subset (``parquetmeta.indexed_pages``
    output — the ColumnIndex page-skip path); the full sequential
    walk otherwise.  With a subset the decoded total is checked
    against the SUBSET's declared values, not the whole chunk."""
    if path is not None:
        max_def, max_rep, _ = _chain_levels(path)
        if max_rep > 0:
            return _read_column_nested(
                data, column, leaf, path, max_def, max_rep,
                marked=marked,
            )
        # leaf under OPTIONAL struct groups (no repetition): flat
        # decode but with the CHAIN's max_def — any undefined
        # ancestor (null struct) flattens the leaf slot to None,
        # matching the single-column Dremel semantics
    elif nested or leaf["repetition"] == "REPEATED":
        raise ParquetReadError(
            "nested (REPEATED) column needs its schema path"
        )
    else:
        max_def = 1 if leaf["repetition"] == "OPTIONAL" else 0
    codec = CompressionCodec[column["codec"]]
    ptype = column["type"]
    tlen = leaf.get("type_length")

    dict_values = None
    out: list = []
    for page in (walk_pages(data, column) if pages is None else pages):
        body = data[
            page["data_offset"] : page["data_offset"]
            + page["compressed_page_size"]
        ]
        _verify_page_crc(page, body)
        if page["type"] == PAGE_DICTIONARY:
            raw = _inflate(
                body, codec, page["uncompressed_page_size"]
            )
            if page["encoding"] not in (_PLAIN, _PLAIN_DICTIONARY):
                raise ParquetReadError(
                    f"dictionary page encoding {page['encoding']}"
                )
            dict_values, end = _plain_decode(
                raw, 0, page["num_values"], ptype, tlen
            )
            if end != len(raw):
                raise ParquetReadError(
                    f"dictionary page has {len(raw) - end} stray bytes"
                )
            continue
        if page["type"] not in (PAGE_DATA, PAGE_DATA_V2):
            continue

        nv = page["num_values"]
        if page["type"] == PAGE_DATA:
            raw = _inflate(
                body, codec, page["uncompressed_page_size"]
            )
            pos = 0
            if max_def > 0:
                if page["definition_level_encoding"] != _RLE:
                    raise ParquetReadError(
                        "non-RLE V1 definition levels are a seam"
                    )
                if pos + 4 > len(raw):
                    raise ParquetReadError("truncated level length")
                (lvl_len,) = struct.unpack_from("<I", raw, pos)
                pos += 4
                if pos + lvl_len > len(raw):
                    raise ParquetReadError("levels overrun the page")
                levels, used = _hybrid_decode(
                    raw[pos : pos + lvl_len], 0, max_def.bit_length(), nv
                )
                pos += lvl_len
            else:
                levels = np.zeros(nv, dtype=np.int64)
        else:  # V2: level runs live UNCOMPRESSED before the values
            dl = page["definition_levels_byte_length"] or 0
            rl = page["repetition_levels_byte_length"] or 0
            if rl:
                raise ParquetReadError("repetition levels are a seam")
            if dl > len(body):
                raise ParquetReadError("V2 levels overrun the page")
            if max_def > 0:
                levels, _ = _hybrid_decode(
                    body[:dl], 0, max_def.bit_length(), nv
                )
            else:
                levels = np.zeros(nv, dtype=np.int64)
            values_body = body[dl:]
            raw = (
                _inflate(
                    values_body,
                    codec,
                    (page["uncompressed_page_size"] or 0) - dl,
                )
                if page["is_compressed"]
                else values_body
            )
            pos = 0

        n_present = int((levels == max_def).sum()) if max_def else nv
        values, pos = _decode_values(
            raw, pos, n_present, page["encoding"], ptype, tlen,
            dict_values,
        )

        if max_def:
            it = iter(values)
            out.extend(
                next(it)
                if lv == max_def
                else (_NullAt(int(lv)) if marked else None)
                for lv in levels
            )
        else:
            out.extend(values)
    expected = (
        column["num_values"]
        if pages is None
        else sum(
            p["num_values"]
            for p in pages
            if p["type"] in (PAGE_DATA, PAGE_DATA_V2)
        )
    )
    if len(out) != expected:
        raise ParquetReadError(
            f"decoded {len(out)} values, "
            f"{'chunk' if pages is None else 'page subset'} declares "
            f"{expected}"
        )
    return out


def _read_column_nested(
    data: bytes, column: dict, leaf: dict, path: list,
    max_def: int, max_rep: int, *, marked: bool = False,
) -> list:
    """Decode a REPEATED-ancestor column chunk into assembled records.

    Levels accumulate across ALL the chunk's pages before assembly —
    the V1 page format does not promise record-aligned page breaks,
    so a record whose entries span two pages still reassembles
    correctly (V2 pages do align, but the chunk-level pass covers
    both).  Page layout per the public format:

    * V1: ``[u32 len][repetition levels]`` then ``[u32 len]
      [definition levels]`` then values, the whole page compressed;
    * V2: repetition then definition level runs UNCOMPRESSED up front
      (byte lengths from the header, no u32 prefixes), values
      compressed per ``is_compressed``.
    """
    codec = CompressionCodec[column["codec"]]
    ptype = column["type"]
    tlen = leaf.get("type_length")
    rep_bw = max_rep.bit_length()
    def_bw = max_def.bit_length()

    dict_values = None
    all_reps: list = []
    all_defs: list = []
    all_values: list = []
    for page in walk_pages(data, column):
        body = data[
            page["data_offset"] : page["data_offset"]
            + page["compressed_page_size"]
        ]
        _verify_page_crc(page, body)
        if page["type"] == PAGE_DICTIONARY:
            raw = _inflate(body, codec, page["uncompressed_page_size"])
            if page["encoding"] not in (_PLAIN, _PLAIN_DICTIONARY):
                raise ParquetReadError(
                    f"dictionary page encoding {page['encoding']}"
                )
            dict_values, end = _plain_decode(
                raw, 0, page["num_values"], ptype, tlen
            )
            if end != len(raw):
                raise ParquetReadError(
                    f"dictionary page has {len(raw) - end} stray bytes"
                )
            continue
        if page["type"] not in (PAGE_DATA, PAGE_DATA_V2):
            continue

        nv = page["num_values"]
        if page["type"] == PAGE_DATA:
            raw = _inflate(body, codec, page["uncompressed_page_size"])
            if page["repetition_level_encoding"] != _RLE or (
                max_def and page["definition_level_encoding"] != _RLE
            ):
                raise ParquetReadError(
                    "non-RLE V1 level encodings are a seam"
                )
            pos = 0
            reps, pos = _prefixed_levels(raw, pos, rep_bw, nv)
            if max_def:
                defs, pos = _prefixed_levels(raw, pos, def_bw, nv)
            else:
                defs = np.zeros(nv, dtype=np.int64)
        else:  # V2
            rl = page["repetition_levels_byte_length"] or 0
            dl = page["definition_levels_byte_length"] or 0
            if rl + dl > len(body):
                raise ParquetReadError("V2 levels overrun the page")
            reps, _ = _hybrid_decode(body[:rl], 0, rep_bw, nv)
            if max_def:
                defs, _ = _hybrid_decode(
                    body[rl : rl + dl], 0, def_bw, nv
                )
            else:
                defs = np.zeros(nv, dtype=np.int64)
            values_body = body[rl + dl :]
            raw = (
                _inflate(
                    values_body,
                    codec,
                    (page["uncompressed_page_size"] or 0) - rl - dl,
                )
                if page["is_compressed"]
                else values_body
            )
            pos = 0

        if reps.max(initial=0) > max_rep or defs.max(initial=0) > max_def:
            raise ParquetReadError("level exceeds the schema maximum")
        n_present = int((defs == max_def).sum())
        values, pos = _decode_values(
            raw, pos, n_present, page["encoding"], ptype, tlen,
            dict_values,
        )
        all_reps.append(reps)
        all_defs.append(defs)
        all_values.extend(values)

    reps = np.concatenate(all_reps) if all_reps else np.zeros(0, np.int64)
    defs = np.concatenate(all_defs) if all_defs else np.zeros(0, np.int64)
    if len(reps) != column["num_values"]:
        raise ParquetReadError(
            f"decoded {len(reps)} leaf slots, chunk declares "
            f"{column['num_values']}"
        )
    return assemble_nested(reps, defs, all_values, path, marked=marked)


def _prefixed_levels(
    raw: bytes, pos: int, bit_width: int, count: int
) -> tuple:
    """Decode a V1 ``[u32 len][hybrid runs]`` level section; a zero
    bit width (max level 0) occupies no bytes at all per the spec."""
    if bit_width == 0:
        return np.zeros(count, dtype=np.int64), pos
    if pos + 4 > len(raw):
        raise ParquetReadError("truncated level length")
    (lvl_len,) = struct.unpack_from("<I", raw, pos)
    pos += 4
    if pos + lvl_len > len(raw):
        raise ParquetReadError("levels overrun the page")
    levels, _ = _hybrid_decode(raw[pos : pos + lvl_len], 0, bit_width, count)
    return levels, pos + lvl_len


def _field_tree(schema: list, ordinal: int) -> tuple:
    """Root child #``ordinal`` -> (node_index, child_info, def_at,
    leaf_base) where ``child_info[node] = [(child_idx, leaf_slice)]``
    (leaf slices RELATIVE to the field's own leaves, in column order)
    and ``def_at[node]`` is the cumulative definition level at the
    node; ``leaf_base`` is the field's first leaf's global column
    ordinal."""
    child_info: dict = {}
    def_at: dict = {}
    leaf_counter = [0]

    def walk(idx: int, cum_def: int) -> tuple[int, int, int]:
        """-> (next schema idx, first leaf ordinal, leaf count)."""
        el = schema[idx]
        if el["repetition"] in ("OPTIONAL", "REPEATED"):
            cum_def += 1
        def_at[idx] = cum_def
        nxt = idx + 1
        if el["num_children"] == 0:
            at = leaf_counter[0]
            leaf_counter[0] += 1
            return nxt, at, 1
        kids = []
        first = None
        total = 0
        for _ in range(el["num_children"]):
            cidx = nxt
            nxt, cat, cn = walk(nxt, cum_def)
            kids.append((cidx, cat, cn))
            first = cat if first is None else first
            total += cn
        base = first if first is not None else leaf_counter[0]
        # slices RELATIVE to this node's own first leaf, so a combine
        # recursion that narrows `entries` to a child's view can keep
        # indexing with the child's recorded slice
        child_info[idx] = [
            (cidx, slice(cat - base, cat - base + cn))
            for cidx, cat, cn in kids
        ]
        return nxt, base, total

    root = schema[0]
    nxt = 1
    global_leaf = 0
    for child_no in range(root["num_children"]):
        start = nxt
        leaf_counter[0] = 0
        nxt, _at, n = walk(start, 0)
        if child_no == ordinal:
            return start, child_info, def_at, global_leaf
        global_leaf += n
    raise ParquetReadError(f"no root child #{ordinal}")


def read_record_field(data: bytes, meta: dict, ordinal: int) -> list:
    """Read TOP-LEVEL field #``ordinal`` — any supported shape,
    including BRANCHING structs (struct, list<struct>, struct of
    lists, maps) — into per-record Python values, closing the
    reader's last named nesting seam.

    Cross-column Dremel assembly: every leaf of the subtree shares
    the record structure ABOVE their common ancestors, so each leaf
    is assembled independently in MARKED mode (``_NullAt(d)``
    preserves the definition level a path broke at) and the schema
    tree then zips the assemblies — a struct slot is null iff its
    first leaf broke ABOVE the struct's definition level, present
    otherwise (the marker depth disambiguates null-struct from
    present-struct-with-null-leaf, which plain flattening cannot).

    Maps surface as ``[{"key": k, "value": v}, ...]`` per row."""
    schema = meta["schema"]
    node, child_info, def_at, leaf_base = _field_tree(schema, ordinal)
    paths = leaf_paths(schema)
    n_leaves = (
        child_info.get(node) and sum(
            (sl.stop - sl.start) for _c, sl in child_info[node]
        )
    ) or 1

    leaf_vals: list[list] = []
    for li in range(n_leaves):
        leaf, lpath = paths[leaf_base + li]
        vals: list = []
        for rg in meta["row_groups"]:
            vals.extend(
                read_column(
                    data,
                    rg["columns"][leaf_base + li],
                    leaf,
                    path=lpath,
                    marked=True,
                )
            )
        leaf_vals.append(vals)
    n_rows = len(leaf_vals[0])
    for lv in leaf_vals[1:]:
        if len(lv) != n_rows:
            raise ParquetReadError(
                "sibling leaves disagree on record count"
            )

    def combine(nidx: int, entries: list):
        el = schema[nidx]
        e0 = entries[0]
        if el["num_children"] == 0:
            return None if isinstance(e0, _NullAt) else e0
        if isinstance(e0, _NullAt) and e0.d < def_at[nidx]:
            return None  # broke above/at this node: all leaves agree
        kids = child_info[nidx]
        rep_child = (
            kids[0][0]
            if len(kids) == 1
            and schema[kids[0][0]]["repetition"] == "REPEATED"
            else None
        )
        if rep_child is not None:
            # LIST/MAP wrapper (or legacy 2-level repeated child)
            if isinstance(e0, _NullAt):
                return None
            if not isinstance(e0, list):
                raise ParquetReadError(
                    f"node {el['name']!r}: expected list structure"
                )
            if not e0:
                return []
            # corrupt-file guard: every sibling leaf under a repeated
            # node must agree on the element count (ADVICE r11 — a
            # mismatch used to surface as a bare IndexError below)
            for ent in entries[1:]:
                if not isinstance(ent, list) or len(ent) != len(e0):
                    raise ParquetReadError(
                        f"node {el['name']!r}: sibling leaves disagree "
                        f"on element count ({len(e0)} vs "
                        f"{len(ent) if isinstance(ent, list) else type(ent).__name__})"
                    )
            rc = schema[rep_child]
            rkids = child_info.get(rep_child, [])
            if rc["num_children"] == 0 or len(rkids) > 1:
                # repeated leaf / repeated struct: the element IS the
                # repeated node (maps land here: key_value -> 2 kids)
                elem = rep_child
            elif rc["name"] == "array" or rc["name"] == (
                el["name"] + "_tuple"
            ):
                # LogicalTypes.md backward-compat rules: a repeated
                # group named 'array' or '<list-name>_tuple' IS the
                # element type even with a single field (legacy
                # 2-level writers) — descending into its child would
                # assemble one level too deep (ADVICE r11)
                elem = rep_child
            else:
                elem = rkids[0][0]  # 3-level: single child of 'list'
            return [
                combine(elem, [ent[k] for ent in entries])
                for k in range(len(e0))
            ]
        # branching (or single-child) STRUCT, present at this slot
        out = {}
        for cidx, sl in kids:
            out[schema[cidx]["name"]] = combine(cidx, entries[sl])
        return out

    return [
        combine(node, [lv[r] for lv in leaf_vals])
        for r in range(n_rows)
    ]
