"""Parquet writer from scratch — the loop closed in both directions.

Emits spec-compliant flat parquet files from first-party layers: the
compact-protocol serializer (``core/thriftcodec.py ThriftWriter``) for
page headers, column metadata and the footer; PLAIN value encoding per
physical type; and hybrid-RLE definition levels for nullable columns.
Page bodies compress through ``core/compression.py`` (C++ snappy,
zlib, libzstd, liblz4, brotli).  pyarrow, Spark and DuckDB read the
files (the unit suite pins all three).

Shape: one row group by default, or size-bounded groups via
``row_group_rows`` (r14) — each with its own chunk Statistics,
dictionary and page indexes, optionally declaring their sort order
through ``sorting_columns`` (RowGroup.sorting_columns, r14); each
column chunk holds one data page per ``page_rows`` rows (default:
everything in one page — pass the knob to exercise the multi-page
layout real writers emit at size).
Since r13 chunks also carry Statistics (null_count + min_value/
max_value under declared column_orders — the row-group pruning
hook), admissible chunks dictionary-encode (PLAIN dictionary page +
RLE_DICTIONARY data pages, see ``write_parquet``'s
``use_dictionary``), and pages compress with SNAPPY, GZIP, BROTLI,
ZSTD or LZ4_RAW.  DATA_PAGE_V2 is supported on
BOTH sides since r13 — pass ``data_page_version=2`` to emit V2
pages (levels outside the compressed region, per-page null counts);
the READER (``core/parquetread.py``) covers both versions.  Since
r14 every chunk also carries page indexes — an OffsetIndex
(PageLocation offset/size/first_row_index per data page) and a
ColumnIndex (per-page null_pages/min/max/null_counts under a
computed BoundaryOrder), placed between the row group and the
footer with ColumnChunk fids 4-7 pointing at them — the page-skip
planning structure ``core/parquetmeta.py`` parses and
``core/parquetread.py`` prunes through.  Also since r14: split-block
Bloom filters per chunk (``bloom_filter_columns`` →
``core/bloomfilter.py``, ColumnMetaData fids 14/15) and the DELTA
value encodings (``column_encodings`` — DELTA_BINARY_PACKED /
DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY, read back by pyarrow,
DuckDB and our own reader).  Page CRC-32 stamps
(``page_checksums``, PageHeader fid 4) round-trip with pyarrow's
verifier in both directions (r14).  The legacy hadoop-framed
LZ4 (codec 5) writes and reads one liblz4 block per chunk (r14;
Spark's parquet reader is the interop referee — pyarrow 16 maps
"lz4" to LZ4_RAW).  Remaining writer seam: LZO (patented
out-of-scope, refused like the reference's unsupported set).

Nested columns (r12, mirroring the reader's record assembly):
``STRUCT<name:TYPE,...>`` and ``LIST<...>`` NEST FREELY — struct of
struct, struct of list, list<struct>, list<list<...>> — through a
generic inverse-Dremel striper (``_stripe_nested``): definition
levels count present optional/repeated ancestors, repetition levels
name the repeated ancestor a slot continues, and EVERY leaf carries
its own level streams (leaves under different repeated ancestors
see different slot counts).  Schema groups emit recursively
(optional group per struct; optional-LIST / repeated ``list`` /
``element`` per list level).  pyarrow, DuckDB and our own
``read_record_field`` all recover the rows (the unit suite pins all
three, randomized deep shapes included).

Column types: INT32, INT64, FLOAT, DOUBLE, BOOLEAN, BYTE_ARRAY
(raw bytes) and STRING (BYTE_ARRAY + the UTF8 converted-type
annotation, so readers surface str).  ``None`` values make a column
OPTIONAL with proper definition levels; all-present columns are
written REQUIRED.  A ``LIST<T>`` type (since r11) writes the
standard 3-level layout — ``optional group (LIST) { repeated group
list { optional T element } }`` — striping each record into
repetition/definition level runs (the exact inverse of the reader's
``assemble_nested``): None -> d0, [] -> d1, [None] -> d2, value ->
d3, with r=1 continuing the record's list.  pyarrow, DuckDB and our
own reader all recover the lists (the unit suite pins all three).
"""

from __future__ import annotations

import struct

from .bits import uleb128, zigzag_encode
from .bloomfilter import SplitBlockBloomFilter
from .compression import compress
from .errors import DBPSInvalidInputError
from .thriftcodec import (
    T_BINARY,
    T_I32,
    T_I64,
    T_LIST,
    T_STRUCT,
    T_TRUE,
    ThriftWriter,
)
from .types import CompressionCodec


def _page_compress(raw: bytes, codec: str) -> bytes:
    """Compress one page body per the column chunk's codec through the
    shared compression layer (snappy, zlib, libzstd, liblz4, brotli).
    Hadoop LZ4 (codec 5) wraps one LZ4_RAW block in its 8-byte
    ``[u32be uncompressed][u32be compressed]`` chunk header."""
    if codec == "LZ4":
        blk = compress(raw, CompressionCodec.LZ4_RAW)
        return (
            len(raw).to_bytes(4, "big")
            + len(blk).to_bytes(4, "big")
            + blk
        )
    return compress(raw, CompressionCodec[codec])


MAGIC = b"PAR1"
_TYPE_IDS = {
    "BOOLEAN": 0,
    "INT32": 1,
    "INT64": 2,
    "FLOAT": 4,
    "DOUBLE": 5,
    "BYTE_ARRAY": 6,
}
#: writer codecs (parquet.thrift ids), all through the compression
#: layer; GZIP pages are RFC-1952 members per the parquet contract.
#: LZO stays a seam (same as the read side's documented posture).
_CODEC_IDS = {
    "UNCOMPRESSED": 0, "SNAPPY": 1, "GZIP": 2, "BROTLI": 4, "LZ4": 5,
    "ZSTD": 6, "LZ4_RAW": 7,
}
_LOGICAL = {"STRING": "BYTE_ARRAY"}  # logical -> physical + UTF8 tag


class ParquetWriteError(DBPSInvalidInputError):
    """Out-of-subset write request."""


def _plain_encode(values: list, ptype: str) -> bytes:
    out = bytearray()
    if ptype == "INT32":
        for v in values:
            out += struct.pack("<i", int(v))
    elif ptype == "INT64":
        for v in values:
            out += struct.pack("<q", int(v))
    elif ptype == "FLOAT":
        for v in values:
            out += struct.pack("<f", float(v))
    elif ptype == "DOUBLE":
        for v in values:
            out += struct.pack("<d", float(v))
    elif ptype == "BOOLEAN":
        acc = bit = 0
        for v in values:
            if v:
                acc |= 1 << bit
            bit += 1
            if bit == 8:
                out.append(acc)
                acc = bit = 0
        if bit:
            out.append(acc)
    elif ptype == "BYTE_ARRAY":
        for v in values:
            b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            out += struct.pack("<I", len(b)) + b
    else:
        raise ParquetWriteError(f"unwritable physical type {ptype}")
    return bytes(out)


def _wrap_s(v: int, bits: int) -> int:
    v &= (1 << bits) - 1
    return v - (1 << bits) if v >= (1 << (bits - 1)) else v


#: DELTA_BINARY_PACKED framing (Encodings.md): 128-value blocks of
#: 4 miniblocks (32 values each) — the layout the major writers emit
_DBP_BLOCK = 128
_DBP_MINIS = 4
_DBP_PER_MINI = _DBP_BLOCK // _DBP_MINIS


def _delta_bp_encode(ints: list, bits: int) -> bytes:
    """DELTA_BINARY_PACKED: header (block size, miniblocks, total,
    zigzag first), then per block a zigzag min delta, 4 miniblock bit
    widths, and LSB-first packed ``delta - min_delta``.  Delta
    arithmetic is modular in the type's width (spec)."""
    out = bytearray(
        uleb128(_DBP_BLOCK) + uleb128(_DBP_MINIS) + uleb128(len(ints))
    )
    out += uleb128(zigzag_encode(int(ints[0]) if ints else 0))
    deltas = [
        _wrap_s(int(b) - int(a), bits)
        for a, b in zip(ints, ints[1:])
    ]
    for at in range(0, len(deltas), _DBP_BLOCK):
        block = deltas[at : at + _DBP_BLOCK]
        mind = min(block)
        frame = [d - mind for d in block]
        frame += [0] * (_DBP_BLOCK - len(frame))
        out += uleb128(zigzag_encode(mind))
        widths = []
        minis = []
        for mb in range(_DBP_MINIS):
            vals = frame[mb * _DBP_PER_MINI : (mb + 1) * _DBP_PER_MINI]
            used = mb * _DBP_PER_MINI < len(block)
            w = max(v.bit_length() for v in vals) if used else 0
            widths.append(w)
            if used and w:
                acc = 0
                for i, v in enumerate(vals):
                    acc |= v << (i * w)
                minis.append(
                    acc.to_bytes(_DBP_PER_MINI * w // 8, "little")
                )
        out += bytes(widths)
        for m in minis:
            out += m
    return bytes(out)


def _delta_len_ba_encode(values: list) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY: delta-packed lengths + concatenated
    bytes."""
    bs = [
        v.encode("utf-8") if isinstance(v, str) else bytes(v)
        for v in values
    ]
    return _delta_bp_encode([len(b) for b in bs], 32) + b"".join(bs)


def _delta_ba_encode(values: list) -> bytes:
    """DELTA_BYTE_ARRAY (front coding): delta-packed shared-prefix
    lengths + DELTA_LENGTH_BYTE_ARRAY suffixes."""
    bs = [
        v.encode("utf-8") if isinstance(v, str) else bytes(v)
        for v in values
    ]
    prefixes = []
    prev = b""
    suffixes = []
    for b in bs:
        p = 0
        lim = min(len(prev), len(b))
        while p < lim and prev[p] == b[p]:
            p += 1
        prefixes.append(p)
        suffixes.append(b[p:])
        prev = b
    return _delta_bp_encode(prefixes, 32) + _delta_len_ba_encode(
        suffixes
    )


def _crc_field(payload: bytes) -> list:
    """PageHeader fid 4: CRC-32 of the payload, as a signed i32."""
    import zlib

    crc = zlib.crc32(payload)
    return [(4, T_I32, crc - (1 << 32) if crc >= (1 << 31) else crc)]


#: encoding name -> (id, allowed physical types)
_DELTA_ENCODINGS = {
    "DELTA_BINARY_PACKED": (5, ("INT32", "INT64")),
    "DELTA_LENGTH_BYTE_ARRAY": (6, ("BYTE_ARRAY",)),
    "DELTA_BYTE_ARRAY": (7, ("BYTE_ARRAY",)),
}


def _rle_levels(levels: list, prefix: bool = True) -> bytes:
    """Level run (definition or repetition, any bit width <= 8) as a
    hybrid RLE stream — one run per same-value stretch (run values
    occupy ceil(bit_width/8) = 1 byte).  V1 pages carry the u32
    length prefix; V2 level sections are raw (their lengths live in
    the page header instead)."""
    body = bytearray()
    i = 0
    n = len(levels)
    while i < n:
        j = i
        while j < n and levels[j] == levels[i]:
            j += 1
        run = j - i
        # ULEB128 of (run << 1), then the 1-byte level value
        body += uleb128(run << 1)
        body.append(levels[i])
        i = j
    if not prefix:
        return bytes(body)
    return struct.pack("<I", len(body)) + bytes(body)


def _rle_hybrid(values: list, bw: int) -> bytes:
    """RLE/bit-packed hybrid for dictionary indices at an arbitrary
    bit width (parquet-format Encodings.md): repeated stretches >= 8
    become RLE runs (ULEB128(count << 1) + ceil(bw/8)-byte value);
    everything else packs LSB-first into 8-value groups
    (ULEB128((groups << 1) | 1) + groups*bw bytes, zero-padded tail
    values past num_values are legal and ignored by readers)."""
    nbytes = (bw + 7) // 8
    body = bytearray()
    i, n = 0, len(values)
    while i < n:
        j = i
        while j < n and values[j] == values[i]:
            j += 1
        if j - i >= 8:
            body += uleb128((j - i) << 1)
            body += int(values[i]).to_bytes(nbytes, "little")
            i = j
            continue
        # gather a bit-packed stretch until the next long run
        k = j
        while k < n:
            j2 = k
            while j2 < n and values[j2] == values[k]:
                j2 += 1
            if j2 - k >= 8:
                break
            k = j2
        # a bit-packed group is ALWAYS consumed as 8 values by the
        # reader, so zero-padding is only legal at END of stream —
        # mid-stream, absorb following values up to the 8-boundary
        # (stealing from the next run is correct, just less optimal)
        while k < n and (k - i) % 8:
            k += 1
        groups = (k - i + 7) // 8
        body += uleb128((groups << 1) | 1)
        acc = 0
        nb = 0
        for x in range(groups * 8):
            v = values[i + x] if i + x < k else 0
            acc |= (v & ((1 << bw) - 1)) << nb
            nb += bw
            while nb >= 8:
                body.append(acc & 0xFF)
                acc >>= 8
                nb -= 8
        i = k
    return bytes(body)


def _strip_list(records: list) -> tuple:
    """One LIST level -> (rep_levels, def_levels, present_values):
    the inverse of the reader's Dremel assembly for the standard
    3-level layout (max_rep 1, max_def 3)."""
    reps: list[int] = []
    defs: list[int] = []
    present: list = []
    for rec in records:
        if rec is None:
            reps.append(0)
            defs.append(0)
        elif not isinstance(rec, (list, tuple)):
            raise ParquetWriteError(
                f"LIST column row is {type(rec).__name__}, not a list"
            )
        elif len(rec) == 0:
            reps.append(0)
            defs.append(1)
        else:
            for i, el in enumerate(rec):
                reps.append(0 if i == 0 else 1)
                if el is None:
                    defs.append(2)
                else:
                    defs.append(3)
                    present.append(el)
    return reps, defs, present


def _parse_struct_fields(spec: str) -> list[tuple[str, str]]:
    """'a:INT64,b:STRING' -> [('a','INT64'), ('b','STRING')] with
    depth-0 comma splitting (field types may themselves carry <>)."""
    fields = []
    depth = 0
    start = 0
    for i, ch in enumerate(spec + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            part = spec[start:i].strip()
            start = i + 1
            if not part:
                continue
            if ":" not in part:
                raise ParquetWriteError(
                    f"struct field {part!r} needs name:TYPE"
                )
            fname, ftype = part.split(":", 1)
            fields.append((fname.strip(), ftype.strip()))
    if not fields:
        raise ParquetWriteError("STRUCT<> needs at least one field")
    return fields


def _parse_type(spec: str):
    """Type DSL -> tree: ('prim', ptype, logical) | ('list', child) |
    ('struct', [(name, node), ...]) | ('map', key_prim, value_node).
    LIST/STRUCT/MAP nest freely; MAP keys are required primitives
    (the parquet MAP contract)."""
    spec = spec.strip()
    if spec.startswith("LIST<") and spec.endswith(">"):
        return ("list", _parse_type(spec[5:-1]))
    if spec.startswith("STRUCT<") and spec.endswith(">"):
        return (
            "struct",
            [
                (fname, _parse_type(ftype))
                for fname, ftype in _parse_struct_fields(spec[7:-1])
            ],
        )
    if spec.startswith("MAP<") and spec.endswith(">"):
        # depth-0 comma split of "K,V"
        inner = spec[4:-1]
        depth = 0
        for i, ch in enumerate(inner):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                key = _parse_type(inner[:i])
                if key[0] != "prim":
                    raise ParquetWriteError(
                        "MAP keys must be primitive types"
                    )
                return ("map", key, _parse_type(inner[i + 1 :]))
        raise ParquetWriteError("MAP<> needs KEY,VALUE")
    ptype = _LOGICAL.get(spec, spec)
    if ptype not in _TYPE_IDS:
        raise ParquetWriteError(f"bad type {spec!r}")
    return ("prim", ptype, spec)


def _tree_leaves(node, path):
    """Leaves of a type tree in schema DFS order -> [(path, ptype,
    logical)]; list elements are named 'element' under 'list' per the
    standard 3-level layout, map entries 'key'/'value' under
    'key_value'."""
    kind = node[0]
    if kind == "prim":
        return [(path, node[1], node[2])]
    if kind == "struct":
        out = []
        for fname, child in node[1]:
            out.extend(_tree_leaves(child, path + [fname]))
        return out
    if kind == "map":
        return _tree_leaves(
            node[1], path + ["key_value", "key"]
        ) + _tree_leaves(node[2], path + ["key_value", "value"])
    return _tree_leaves(node[1], path + ["list", "element"])


def _stat_key(v, ptype: str):
    """Comparison key per the type's DEFINED order (parquet-format
    ColumnOrder TypeDefinedOrder): signed for ints/floats, unsigned
    BYTEWISE for BYTE_ARRAY (str compares by its UTF-8 bytes, not
    codepoints — they agree for UTF-8, but bytes are the contract)."""
    if ptype == "BYTE_ARRAY":
        return v.encode("utf-8") if isinstance(v, str) else bytes(v)
    return v


def _stat_bytes(v, ptype: str) -> bytes:
    """Statistics min_value/max_value wire form: the PLAIN encoding
    of one value WITHOUT any length prefix."""
    if ptype == "INT32":
        return struct.pack("<i", v)
    if ptype == "INT64":
        return struct.pack("<q", v)
    if ptype == "FLOAT":
        return struct.pack("<f", v)
    if ptype == "DOUBLE":
        return struct.pack("<d", v)
    if ptype == "BOOLEAN":
        return b"\x01" if v else b"\x00"
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


def _tree_leaf_has_rep(node, under_rep: bool = False) -> list[bool]:
    """Per-leaf (DFS order, matching ``_tree_leaves``): does the leaf
    have a REPEATED ancestor on its own path — i.e. does its column
    chunk carry a repetition-level stream?  Derived from the TYPE
    TREE, never from path names: a struct field legitimately named
    'list' or 'key_value' must not grow a spurious rep stream
    (ADVICE r12, medium)."""
    kind = node[0]
    if kind == "prim":
        return [under_rep]
    if kind == "struct":
        out: list[bool] = []
        for _n, c in node[1]:
            out.extend(_tree_leaf_has_rep(c, under_rep))
        return out
    if kind == "map":
        return _tree_leaf_has_rep(node[1], True) + _tree_leaf_has_rep(
            node[2], True
        )
    return _tree_leaf_has_rep(node[1], True)


def _tree_max_rep(node) -> int:
    kind = node[0]
    if kind == "prim":
        return 0
    if kind == "struct":
        return max(_tree_max_rep(c) for _n, c in node[1])
    if kind == "map":
        return 1 + max(_tree_max_rep(node[1]), _tree_max_rep(node[2]))
    return 1 + _tree_max_rep(node[1])


def _stripe_nested(records: list, tree) -> list:
    """Generic inverse Dremel: one optional column of arbitrary
    struct/list nesting -> per-leaf (rep_levels, def_levels,
    present_values), the exact inverse of the reader's marked record
    assembly.  Definition levels count present optional/repeated
    ancestors (a LIST contributes two: its optional group and, once
    non-empty, its repeated node); repetition levels name the
    repeated ancestor a slot continues (0 = new record).  EVERY leaf
    carries its own level streams: leaves under different repeated
    ancestors see different slot counts, so streams are never shared
    (the r12 struct-of-list lesson)."""
    leaves = _tree_leaves(tree, [])
    n_leaves = len(leaves)
    reps = [[] for _ in range(n_leaves)]
    defs = [[] for _ in range(n_leaves)]
    present = [[] for _ in range(n_leaves)]

    # leaf index ranges per subtree, resolved by a DFS mirror
    def leaf_span(node, at):
        kind = node[0]
        if kind == "prim":
            return at + 1
        if kind == "struct":
            for _n, c in node[1]:
                at = leaf_span(c, at)
            return at
        if kind == "map":
            return leaf_span(node[2], leaf_span(node[1], at))
        return leaf_span(node[1], at)

    def emit_all(node, at, r, d):
        hi = leaf_span(node, at)
        for li in range(at, hi):
            reps[li].append(r)
            defs[li].append(d)

    def walk(value, node, at, r, d, rep_depth):
        """``rep_depth``: repeated ancestors above this node — the
        rep value continuation slots under a list here will carry."""
        kind = node[0]
        if kind == "prim":
            reps[at].append(r)
            if value is None:
                defs[at].append(d)
            else:
                defs[at].append(d + 1)
                present[at].append(value)
            return
        if kind == "struct":
            if value is None:
                emit_all(node, at, r, d)
                return
            if not isinstance(value, dict):
                raise ParquetWriteError(
                    f"STRUCT row is {type(value).__name__}, not a dict"
                )
            child_at = at
            for fname, child in node[1]:
                walk(value.get(fname), child, child_at, r, d + 1,
                     rep_depth)
                child_at = leaf_span(child, child_at)
            return
        if kind == "map":
            if value is None:
                emit_all(node, at, r, d)
                return
            if not isinstance(value, dict):
                raise ParquetWriteError(
                    f"MAP column row is {type(value).__name__}, "
                    "not a dict"
                )
            if len(value) == 0:
                emit_all(node, at, r, d + 1)
                return
            my_rep = rep_depth + 1
            val_at = leaf_span(node[1], at)
            for i, (k, v) in enumerate(value.items()):
                if k is None:
                    raise ParquetWriteError("MAP keys cannot be null")
                ri = r if i == 0 else my_rep
                # required key: present adds NO definition level —
                # the entry's existence (d+2) is the key's def
                reps[at].append(ri)
                defs[at].append(d + 2)
                present[at].append(k)
                walk(v, node[2], val_at, ri, d + 2, my_rep)
            return
        # list
        if value is None:
            emit_all(node, at, r, d)
            return
        if not isinstance(value, (list, tuple)):
            raise ParquetWriteError(
                f"LIST column row is {type(value).__name__}, not a list"
            )
        if len(value) == 0:
            emit_all(node, at, r, d + 1)
            return
        my_rep = rep_depth + 1
        for i, el in enumerate(value):
            walk(el, node[1], at, r if i == 0 else my_rep, d + 2,
                 my_rep)

    for rec_val in records:
        walk(rec_val, tree, 0, 0, 0, 0)
    return [
        (reps[i], defs[i], present[i]) for i in range(n_leaves)
    ]


def write_parquet(
    columns: dict,
    types: dict,
    *,
    codec: str = "UNCOMPRESSED",
    page_rows: int | None = None,
    use_dictionary: bool = True,
    data_page_version: int = 1,
    row_group_rows: int | None = None,
    sorting_columns: list | None = None,
    bloom_filter_columns: list | None = None,
    column_encodings: dict | None = None,
    page_checksums: bool = False,
) -> bytes:
    """{name: values} + {name: physical-or-LIST<physical> type} ->
    parquet file bytes.

    ``use_dictionary`` (default on, like the major writers) admits a
    chunk to dictionary encoding when its distinct present values
    are bounded (<= 65536) and repetition actually repays the
    dictionary (2x); inadmissible chunks stay PLAIN automatically.

    ``data_page_version=2`` emits DATA_PAGE_V2 pages (r13): level
    runs uncompressed up front with their byte lengths in the
    header, only the values section under the codec — the layout
    that lets readers skip to values without inflating levels.

    ``row_group_rows`` (r14) bounds each row group to that many
    records (default: one group) — the layout real writers emit at
    size, and the unit readers plan ROW-GROUP pruning against: each
    group carries its own chunk Statistics and page indexes, so a
    selective scan drops whole groups before it ever looks at
    pages.

    ``sorting_columns`` (r14) declares the rows' sort order in every
    RowGroup (parquet-format SortingColumn): a list of
    ``(leaf_index, descending, nulls_first)`` tuples, leaf indices in
    chunk order.  Declaration only — the writer does NOT sort; the
    caller asserts the order, exactly like the major writers.

    ``column_encodings`` (r14) maps flat column names to a DELTA
    value encoding — ``DELTA_BINARY_PACKED`` (INT32/INT64),
    ``DELTA_LENGTH_BYTE_ARRAY`` / ``DELTA_BYTE_ARRAY`` (strings) —
    overriding dictionary admission for that column; both page
    versions carry them, and pyarrow/DuckDB read the output (the
    interop pins).

    ``page_checksums`` (r14) stamps every page header with a CRC-32
    over its payload bytes (PageHeader fid 4 — the convention pyarrow
    verifies under ``page_checksum_verification=True``); our reader
    verifies them too, so a flipped bit fails loudly on either side.

    ``bloom_filter_columns`` (r14) emits one split-block Bloom filter
    per ROW-GROUP CHUNK of each named flat column
    (``core/bloomfilter.py``: XXH64 over the PLAIN value bytes, the
    BloomFilter.md block layout), sized from the chunk's exact
    distinct count at ~10 bits/value, serialized as
    ``BloomFilterHeader`` + bitset with ``ColumnMetaData`` fids 14/15
    pointing at it — the structure equality scans prune row groups
    through."""
    if data_page_version not in (1, 2):
        raise ParquetWriteError(
            f"data_page_version {data_page_version} (1 or 2)"
        )
    if page_rows is not None and page_rows <= 0:
        raise ParquetWriteError(f"page_rows {page_rows} must be positive")
    if row_group_rows is not None and row_group_rows <= 0:
        raise ParquetWriteError(
            f"row_group_rows {row_group_rows} must be positive"
        )
    for sc in sorting_columns or ():
        if not (isinstance(sc, (tuple, list)) and len(sc) == 3):
            raise ParquetWriteError(
                "sorting_columns entries are "
                "(leaf_index, descending, nulls_first) triples"
            )
    if codec not in _CODEC_IDS:
        raise ParquetWriteError(
            f"codec {codec!r} is a writer seam "
            "(UNCOMPRESSED/SNAPPY/GZIP/BROTLI/LZ4/ZSTD/LZ4_RAW)"
        )
    names = list(columns)
    if not names:
        raise ParquetWriteError("no columns")
    n_rows = len(columns[names[0]])
    if any(len(columns[c]) != n_rows for c in names):
        raise ParquetWriteError("columns disagree on row count")
    bloom_cols = set(bloom_filter_columns or ())
    if bloom_cols - set(names):
        raise ParquetWriteError(
            f"bloom columns {sorted(bloom_cols - set(names))} not in "
            "the schema"
        )
    col_encs = dict(column_encodings or {})
    if set(col_encs) - set(names):
        raise ParquetWriteError(
            f"encoded columns {sorted(set(col_encs) - set(names))} "
            "not in the schema"
        )
    for cname, ename in col_encs.items():
        if ename not in _DELTA_ENCODINGS:
            raise ParquetWriteError(
                f"column encoding {ename!r} "
                "(DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY / "
                "DELTA_BYTE_ARRAY)"
            )

    def leaf_ptype(logical: str) -> str:
        ptype = _LOGICAL.get(logical, logical)
        if ptype not in _TYPE_IDS:
            raise ParquetWriteError(f"bad type {logical!r}")
        return ptype

    out = bytearray(MAGIC)
    # chunk_meta (one entry per leaf PER ROW GROUP) is assembled in
    # phase B below
    schema_elems = [
        [  # root
            (3, T_I32, 0),                   # repetition (ignored on root)
            (4, T_BINARY, b"schema"),
            (5, T_I32, len(names)),
        ]
    ]

    def leaf_elem(ptype: str, logical: str, fname: str) -> list:
        fields = [
            (1, T_I32, _TYPE_IDS[ptype]),
            (3, T_I32, 1),                   # OPTIONAL
            (4, T_BINARY, fname.encode("utf-8")),
        ]
        if logical == "STRING":
            fields.append((6, T_I32, 0))     # ConvertedType UTF8
        return fields

    def write_leaf_pages(values, stripe, ptype: str,
                         delta_enc: str | None = None) -> dict:
        """Write record-aligned pages for one leaf; ``stripe`` maps a
        page of records to (reps|None, defs|None, present).  Also
        accumulates chunk Statistics (null_count + min/max in the
        type's defined order: signed ints, IEEE floats with NaN
        excluded, unsigned bytewise BYTE_ARRAY) — the row-group
        pruning hook every scan planner reads before touching data.

        Dictionary encoding (the dominant parquet size win on
        repeated values at scale): when ``use_dictionary`` admits the
        chunk — bounded distinct count, real repetition, no NaN — a
        PLAIN dictionary page leads the chunk and every data page
        carries RLE_DICTIONARY indices ([u8 bit width] + RLE/
        bit-packed hybrid runs, the v2 recommended pair).  Otherwise
        the chunk stays PLAIN."""
        chunk_offset = len(out)
        comp_total = 0
        uncomp_total = 0
        n_leaf_slots = 0
        n_present_total = 0
        vmin = vmax = None
        kmin = kmax = None
        chunk_rows = len(values)
        step = page_rows or max(chunk_rows, 1)
        pages = []
        page_stats = []  # per DATA page: (kmin, vmin, kmax, vmax)
        for at in range(0, chunk_rows, step) or [0]:
            reps, defs, present = stripe(values[at : at + step], at)
            pages.append(
                (at, len(values[at : at + step]), reps, defs, present)
            )
            n_present_total += len(present)
            pkmin = pkmax = pvmin = pvmax = None
            for v in present:
                if ptype in ("FLOAT", "DOUBLE") and v != v:
                    continue  # NaN is excluded from min/max (spec)
                k = _stat_key(v, ptype)
                if pkmin is None or k < pkmin:
                    pkmin, pvmin = k, v
                if pkmax is None or k > pkmax:
                    pkmax, pvmax = k, v
            page_stats.append((pkmin, pvmin, pkmax, pvmax))
            if pkmin is not None and (kmin is None or pkmin < kmin):
                kmin, vmin = pkmin, pvmin
            if pkmax is not None and (kmax is None or pkmax > kmax):
                kmax, vmax = pkmax, pvmax

        # dictionary admission: never BOOLEAN (bit-packed already),
        # never NaN-bearing floats (NaN identity vs equality), only
        # when the dictionary is bounded AND actually repays itself
        if delta_enc is not None:
            enc_id, allowed = _DELTA_ENCODINGS[delta_enc]
            if ptype not in allowed:
                raise ParquetWriteError(
                    f"{delta_enc} on {ptype} (allowed: {allowed})"
                )
        dict_vals: list = []
        index_of: dict = {}
        if (use_dictionary and delta_enc is None
                and ptype != "BOOLEAN" and n_present_total):
            ok = True
            for _at, _rows, _reps, _defs, present in pages:
                for v in present:
                    if ptype in ("FLOAT", "DOUBLE") and v != v:
                        ok = False
                        break
                    if v not in index_of:
                        index_of[v] = len(dict_vals)
                        dict_vals.append(v)
                        if len(dict_vals) > 65536:
                            ok = False
                            break
                if not ok:
                    break
            if not ok or len(dict_vals) * 2 > n_present_total:
                dict_vals, index_of = [], {}

        use_dict = bool(dict_vals)
        dict_page_offset = None
        if use_dict:
            dict_page_offset = len(out)
            raw = _plain_encode(dict_vals, ptype)
            paged = _page_compress(raw, codec)
            hdr = ThriftWriter()
            hdr.write_struct(
                [
                    (1, T_I32, 2),            # DICTIONARY_PAGE
                    (2, T_I32, len(raw)),
                    (3, T_I32, len(paged)),
                ]
                + (_crc_field(paged) if page_checksums else [])
                + [
                    (7, T_STRUCT, [           # DictionaryPageHeader
                        (1, T_I32, len(dict_vals)),
                        (2, T_I32, 0),        # PLAIN values
                    ]),
                ]
            )
            hdr_bytes = hdr.getvalue()
            out.extend(hdr_bytes)
            out.extend(paged)
            comp_total += len(hdr_bytes) + len(paged)
            uncomp_total += len(hdr_bytes) + len(raw)
            bw = max(1, (len(dict_vals) - 1).bit_length())

        data_page_offset = len(out)
        # RLE_DICTIONARY(8), a DELTA id, or PLAIN(0)
        page_enc = 8 if use_dict else (
            _DELTA_ENCODINGS[delta_enc][0] if delta_enc else 0
        )
        page_locs = []   # (file offset, compressed size, first row)
        page_nulls = []  # per-page null (undefined-leaf-slot) count
        for at, rows, reps, defs, present in pages:
            page_start = len(out)
            if use_dict:
                vals = bytes([bw]) + _rle_hybrid(
                    [index_of[v] for v in present], bw
                )
            elif delta_enc == "DELTA_BINARY_PACKED":
                vals = _delta_bp_encode(
                    [int(v) for v in present],
                    32 if ptype == "INT32" else 64,
                )
            elif delta_enc == "DELTA_LENGTH_BYTE_ARRAY":
                vals = _delta_len_ba_encode(present)
            elif delta_enc == "DELTA_BYTE_ARRAY":
                vals = _delta_ba_encode(present)
            else:
                vals = _plain_encode(present, ptype)
            page_nv = len(defs) if defs is not None else len(present)
            n_leaf_slots += page_nv
            hdr = ThriftWriter()
            if data_page_version == 2:
                # V2: rep then def level runs live UNCOMPRESSED up
                # front (no u32 prefixes — the header carries their
                # byte lengths); only the values section compresses
                rep_b = (
                    _rle_levels(reps, prefix=False)
                    if reps is not None
                    else b""
                )
                def_b = (
                    _rle_levels(defs, prefix=False)
                    if defs is not None
                    else b""
                )
                cvals = _page_compress(vals, codec)
                lv = len(rep_b) + len(def_b)
                hdr.write_struct(
                    [
                        (1, T_I32, 3),        # DATA_PAGE_V2
                        (2, T_I32, lv + len(vals)),
                        (3, T_I32, lv + len(cvals)),
                    ]
                    + (
                        _crc_field(bytes(rep_b) + bytes(def_b) + cvals)
                        if page_checksums
                        else []
                    )
                    + [
                        (8, T_STRUCT, [       # DataPageHeaderV2
                            (1, T_I32, page_nv),
                            (2, T_I32, page_nv - len(present)),
                            (3, T_I32, rows),
                            (4, T_I32, page_enc),
                            (5, T_I32, len(def_b)),
                            (6, T_I32, len(rep_b)),
                        ]),
                    ]
                )  # noqa: page_checksums splice above
                hdr_bytes = hdr.getvalue()
                out.extend(hdr_bytes)
                out.extend(rep_b)
                out.extend(def_b)
                out.extend(cvals)
                comp_total += len(hdr_bytes) + lv + len(cvals)
                uncomp_total += len(hdr_bytes) + lv + len(vals)
                page_locs.append((page_start, len(out) - page_start, at))
                page_nulls.append(page_nv - len(present))
                continue
            body = bytearray()
            if reps is not None:
                body += _rle_levels(reps)
            if defs is not None:
                body += _rle_levels(defs)
            body += vals
            raw = bytes(body)
            paged = _page_compress(raw, codec)
            hdr.write_struct(
                [
                    (1, T_I32, 0),            # DATA_PAGE
                    (2, T_I32, len(raw)),     # uncompressed size
                    (3, T_I32, len(paged)),   # compressed size
                ]
                + (_crc_field(paged) if page_checksums else [])
                + [
                    (5, T_STRUCT, [           # DataPageHeader
                        (1, T_I32, page_nv),
                        (2, T_I32, page_enc),
                        (3, T_I32, 3),        # RLE def levels
                        (4, T_I32, 3),        # RLE rep levels
                    ]),
                ]
            )
            hdr_bytes = hdr.getvalue()
            out.extend(hdr_bytes)
            out.extend(paged)
            comp_total += len(hdr_bytes) + len(paged)
            uncomp_total += len(hdr_bytes) + len(raw)
            page_locs.append((page_start, len(out) - page_start, at))
            page_nulls.append(page_nv - len(present))

        # page-index accounting (PageIndex.md): boundary order over
        # the NON-null pages' bounds in the column's defined order
        pmins = [s[0] for s in page_stats if s[0] is not None]
        pmaxs = [s[2] for s in page_stats if s[2] is not None]
        if pmins and all(
            a <= b for a, b in zip(pmins, pmins[1:])
        ) and all(a <= b for a, b in zip(pmaxs, pmaxs[1:])):
            border = 1                       # ASCENDING
        elif pmins and all(
            a >= b for a, b in zip(pmins, pmins[1:])
        ) and all(a >= b for a, b in zip(pmaxs, pmaxs[1:])):
            border = 2                       # DESCENDING
        else:
            border = 0                       # UNORDERED
        return {
            "num_values": n_leaf_slots,
            "offset": chunk_offset,
            "data_page_offset": data_page_offset,
            "dict_page_offset": dict_page_offset,
            "encodings": (
                [8, 3, 0] if use_dict
                else [page_enc, 3] if delta_enc
                else [0, 3]
            ),
            "compressed": comp_total,
            "uncompressed": uncomp_total,
            "null_count": n_leaf_slots - n_present_total,
            "min": None if kmin is None else _stat_bytes(vmin, ptype),
            "max": None if kmax is None else _stat_bytes(vmax, ptype),
            "page_locations": page_locs,
            "page_index": {
                # all-null pages carry byte[0] bounds per the spec
                "null_pages": [s[0] is None for s in page_stats],
                "min_values": [
                    b"" if s[0] is None else _stat_bytes(s[1], ptype)
                    for s in page_stats
                ],
                "max_values": [
                    b"" if s[2] is None else _stat_bytes(s[3], ptype)
                    for s in page_stats
                ],
                "boundary_order": border,
                "null_counts": page_nulls,
            },
        }

    def emit_group_schema(node, gname: str):
        kind = node[0]
        if kind == "prim":
            schema_elems.append(leaf_elem(node[1], node[2], gname))
        elif kind == "struct":
            schema_elems.append([
                (3, T_I32, 1),               # OPTIONAL group
                (4, T_BINARY, gname.encode("utf-8")),
                (5, T_I32, len(node[1])),
            ])
            for fname, child in node[1]:
                emit_group_schema(child, fname)
        elif kind == "map":
            schema_elems.append([
                (3, T_I32, 1),
                (4, T_BINARY, gname.encode("utf-8")),
                (5, T_I32, 1),
                (6, T_I32, 1),               # ConvertedType MAP
            ])
            schema_elems.append([
                (3, T_I32, 2),
                (4, T_BINARY, b"key_value"),
                (5, T_I32, 2),
            ])
            kfields = [
                (1, T_I32, _TYPE_IDS[node[1][1]]),
                (3, T_I32, 0),               # REQUIRED key
                (4, T_BINARY, b"key"),
            ]
            if node[1][2] == "STRING":
                kfields.append((6, T_I32, 0))
            schema_elems.append(kfields)
            emit_group_schema(node[2], "value")
        else:                                # list
            schema_elems.append([
                (3, T_I32, 1),
                (4, T_BINARY, gname.encode("utf-8")),
                (5, T_I32, 1),
                (6, T_I32, 3),               # ConvertedType LIST
            ])
            schema_elems.append([
                (3, T_I32, 2), (4, T_BINARY, b"list"), (5, T_I32, 1),
            ])
            emit_group_schema(node[1], "element")

    # --- phase A: schema emission + one chunk-writer per column ------
    # The schema is declared ONCE; each writer closure emits the
    # column's chunk(s) for one ROW GROUP's slice of records, so the
    # same plan runs for the single-row-group default and the
    # size-bounded multi-row-group layout (``row_group_rows``).
    col_writers = []  # (values, write(slice) -> [chunk meta])
    for name in names:
        logical = types[name]
        values = columns[name]
        is_list = isinstance(logical, str) and logical.startswith(
            "LIST<"
        ) and logical.endswith(">")
        inner = logical[5:-1].strip() if is_list else logical
        nested = isinstance(logical, str) and (
            "STRUCT<" in logical
            or "MAP<" in logical
            or (is_list and inner.startswith("LIST<"))
        )

        if name in bloom_cols and (nested or is_list):
            raise ParquetWriteError(
                f"bloom column {name!r} must be a flat scalar "
                "(nested/LIST chunks have no single-value hash input)"
            )
        if name in col_encs and (nested or is_list):
            raise ParquetWriteError(
                f"column encoding on {name!r}: flat scalar columns "
                "only"
            )
        if nested:
            # arbitrary struct/list nesting through the generic
            # inverse-Dremel striper (flat and simple LIST<prim>
            # columns keep the original byte-stable path below)
            tree = _parse_type(logical)
            emit_group_schema(tree, name)
            leaves = _tree_leaves(tree, [name])
            # rep levels exist only on leaves with a repeated ancestor
            # ON THEIR OWN PATH — derived structurally from the type
            # tree (a field NAMED 'list' must not gain a rep stream)
            leaf_reps = _tree_leaf_has_rep(tree)

            def write_nested(slice_vals, tree=tree, leaves=leaves,
                             leaf_reps=leaf_reps):
                # each page is striped ONCE for all L leaves (the
                # callback memoizes on the page's record offset; the
                # LAST leaf evicts, so memory stays one-column-of-
                # levels bounded instead of L stripings per page —
                # ADVICE r12, low)
                stripe_memo: dict[int, list] = {}
                last_li = len(leaves) - 1
                metas = []
                for li, (lpath, lptype, _llogical) in enumerate(leaves):
                    has_rep = leaf_reps[li]

                    def stripe(page, at=0, li=li, tree=tree,
                               has_rep=has_rep, evict=li == last_li):
                        if at not in stripe_memo:
                            stripe_memo[at] = _stripe_nested(page, tree)
                        striped = stripe_memo[at]
                        reps, ldefs, lpres = striped[li]
                        if evict:
                            stripe_memo.pop(at, None)
                        return (reps if has_rep else None, ldefs, lpres)

                    meta = write_leaf_pages(slice_vals, stripe, lptype)
                    meta["path"] = lpath
                    meta["ptype"] = lptype
                    metas.append(meta)
                return metas

            col_writers.append((values, write_nested))
            continue

        ptype = leaf_ptype(inner)
        nullable = any(v is None for v in values)
        if is_list:
            schema_elems.append([
                (3, T_I32, 1),               # OPTIONAL
                (4, T_BINARY, name.encode("utf-8")),
                (5, T_I32, 1),               # one child
                (6, T_I32, 3),               # ConvertedType LIST
            ])
            schema_elems.append([
                (3, T_I32, 2), (4, T_BINARY, b"list"), (5, T_I32, 1),
            ])
            schema_elems.append(leaf_elem(ptype, inner, "element"))

            def stripe(page, at=0):
                return _strip_list(page)

            path = [name, "list", "element"]
        else:
            fields_elem = [
                (1, T_I32, _TYPE_IDS[ptype]),
                (3, T_I32, 1 if nullable else 0),
                (4, T_BINARY, name.encode("utf-8")),
            ]
            if inner == "STRING":
                fields_elem.append((6, T_I32, 0))
            schema_elems.append(fields_elem)

            def stripe(page, at=0, nullable=nullable):
                if nullable:
                    return (
                        None,
                        [0 if v is None else 1 for v in page],
                        [v for v in page if v is not None],
                    )
                return (None, None, list(page))

            path = [name]

        def write_flat(slice_vals, stripe=stripe, ptype=ptype,
                       path=path, name=name):
            meta = write_leaf_pages(
                slice_vals, stripe, ptype,
                delta_enc=col_encs.get(name),
            )
            meta["path"] = path
            meta["ptype"] = ptype
            if name in bloom_cols:
                present = [v for v in slice_vals if v is not None]
                ndv = len(set(present))
                f = SplitBlockBloomFilter.for_ndv(max(ndv, 1))
                for v in present:
                    f.insert(v, ptype)
                meta["_bloom"] = f
            return [meta]

        col_writers.append((values, write_flat))

    # --- phase B: row groups ----------------------------------------
    rg_step = row_group_rows or max(n_rows, 1)
    rg_meta = []  # (rows in this group, [chunk meta])
    for rg_at in range(0, n_rows, rg_step) or [0]:
        rg_chunks = []
        for values, write in col_writers:
            rg_chunks.extend(write(values[rg_at : rg_at + rg_step]))
        rg_meta.append((min(rg_step, n_rows - rg_at), rg_chunks))
    chunk_meta = [m for _rows, chunks in rg_meta for m in chunks]

    # --- page indexes ------------------------------------------------
    # PageIndex.md layout: ColumnIndex structs for every chunk, then
    # OffsetIndex structs, between the last data page and the footer.
    # Readers that plan page skips (parquet-mr, arrow C++) locate them
    # through ColumnChunk fids 6/7 and 4/5; readers that don't simply
    # never dereference the offsets.
    for m in chunk_meta:
        pi = m["page_index"]
        w = ThriftWriter()
        w.write_struct(
            [
                (1, T_LIST, (T_TRUE, pi["null_pages"])),
                (2, T_LIST, (T_BINARY, pi["min_values"])),
                (3, T_LIST, (T_BINARY, pi["max_values"])),
                (4, T_I32, pi["boundary_order"]),
                (5, T_LIST, (T_I64, pi["null_counts"])),
            ]
        )
        blob = w.getvalue()
        m["column_index_offset"] = len(out)
        m["column_index_length"] = len(blob)
        out += blob
    for m in chunk_meta:
        w = ThriftWriter()
        w.write_struct(
            [
                (1, T_LIST, (T_STRUCT, [
                    [
                        (1, T_I64, off),
                        (2, T_I32, comp),
                        (3, T_I64, first_row),
                    ]
                    for off, comp, first_row in m["page_locations"]
                ])),
            ]
        )
        blob = w.getvalue()
        m["offset_index_offset"] = len(out)
        m["offset_index_length"] = len(blob)
        out += blob

    # --- bloom filters -----------------------------------------------
    # BloomFilterHeader (numBytes + the three singleton unions:
    # algorithm=BLOCK, hash=XXHASH, compression=UNCOMPRESSED) followed
    # by the raw bitset; ColumnMetaData fids 14/15 point here.
    for m in chunk_meta:
        f = m.pop("_bloom", None)
        if f is None:
            continue
        bitset = f.to_bytes()
        w = ThriftWriter()
        w.write_struct(
            [
                (1, T_I32, len(bitset)),
                (2, T_STRUCT, [(1, T_STRUCT, [])]),  # SPLIT_BLOCK
                (3, T_STRUCT, [(1, T_STRUCT, [])]),  # XXHASH
                (4, T_STRUCT, [(1, T_STRUCT, [])]),  # UNCOMPRESSED
            ]
        )
        header = w.getvalue()
        m["bloom_filter_offset"] = len(out)
        m["bloom_filter_length"] = len(header) + len(bitset)
        out += header
        out += bitset

    # --- footer ------------------------------------------------------
    def _chunk_struct(m):
        path = [p.encode("utf-8") for p in m["path"]]
        # Statistics (ColumnMetaData fid 12): null_count + the
        # modern min_value/max_value pair (fids 5/6; the deprecated
        # 1/2 are never written) — valid under the TypeDefinedOrder
        # declared in column_orders below
        stats = [(3, T_I64, m["null_count"])]
        if m["min"] is not None:
            stats += [
                (5, T_BINARY, m["max"]),
                (6, T_BINARY, m["min"]),
            ]
        cmeta = [
            (1, T_I32, _TYPE_IDS[m["ptype"]]),
            (2, T_LIST, (T_I32, m["encodings"])),
            (3, T_LIST, (T_BINARY, path)),
            (4, T_I32, _CODEC_IDS[codec]),
            (5, T_I64, m["num_values"]),   # LEAF slots
            (6, T_I64, m["uncompressed"]),
            (7, T_I64, m["compressed"]),
            (9, T_I64, m["data_page_offset"]),
        ]
        if m["dict_page_offset"] is not None:
            cmeta.append((11, T_I64, m["dict_page_offset"]))
        cmeta.append((12, T_STRUCT, stats))
        if "bloom_filter_offset" in m:
            cmeta.append((14, T_I64, m["bloom_filter_offset"]))
            cmeta.append((15, T_I32, m["bloom_filter_length"]))
        return [
            (2, T_I64, m["offset"]),         # file_offset
            (3, T_STRUCT, cmeta),
            (4, T_I64, m["offset_index_offset"]),
            (5, T_I32, m["offset_index_length"]),
            (6, T_I64, m["column_index_offset"]),
            (7, T_I32, m["column_index_length"]),
        ]

    n_leaves = len(rg_meta[0][1])
    sort_structs = []
    for idx, desc, nf in sorting_columns or ():
        if not 0 <= int(idx) < n_leaves:
            raise ParquetWriteError(
                f"sorting column index {idx} outside {n_leaves} leaves"
            )
        sort_structs.append([
            (1, T_I32, int(idx)),
            (2, T_TRUE, bool(desc)),
            (3, T_TRUE, bool(nf)),
        ])
    rg_structs = [
        [
            (1, T_LIST, (T_STRUCT, [_chunk_struct(m) for m in chunks])),
            (2, T_I64, sum(m["uncompressed"] for m in chunks)),
            (3, T_I64, rows),
        ]
        + (
            [(4, T_LIST, (T_STRUCT, sort_structs))]
            if sort_structs
            else []
        )
        for rows, chunks in rg_meta
    ]
    footer = ThriftWriter()
    footer.write_struct(
        [
            (1, T_I32, 1),                   # version
            (2, T_LIST, (T_STRUCT, schema_elems)),
            (3, T_I64, n_rows),
            (4, T_LIST, (T_STRUCT, rg_structs)),
            (6, T_BINARY, b"dbps-spark parquetwrite"),
            # column_orders: TYPE_ORDER for every schema LEAF (not
            # per chunk — row groups share one schema) — REQUIRED for
            # readers to trust min_value/max_value (parquet-format:
            # stats without a declared order must be ignored)
            (7, T_LIST, (T_STRUCT, [
                [(1, T_STRUCT, [])] for _ in rg_meta[0][1]
            ])),
        ]
    )
    blob = footer.getvalue()
    out += blob
    out += struct.pack("<I", len(blob))
    out += MAGIC
    return bytes(out)
