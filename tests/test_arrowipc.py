"""The validated Arrow IPC readers over pyarrow-written bytes.

Every fixture is produced by ``pyarrow.ipc``'s writer.  Well-formed
files and streams must read back through ``read_arrow_ipc`` /
``read_arrow_stream`` equal to the written table, types included.
Hostile inputs come from the same writer plus byte surgery, or from
``Array.from_buffers`` arrays, which get only pyarrow's cheap
structural checks; each must raise
:class:`ArrowIpcFormatError` and nothing else.
"""

import decimal
import io
import random
import struct

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from databatchprotectionservice_spark.core.arrowipc import (
    ArrowIpcFormatError,
    read_arrow_ipc,
    read_arrow_stream,
)
from databatchprotectionservice_spark.core.errors import (
    DBPSInvalidInputError,
)

from .lz4frames import lz4_frame


def _write(new, table, max_chunksize=None, compression=None, **kw):
    buf = io.BytesIO()
    opts = pa.ipc.IpcWriteOptions(compression=compression, **kw)
    with new(buf, table.schema, options=opts) as w:
        if max_chunksize is None:
            w.write_table(table)
        else:
            for b in table.to_batches(max_chunksize=max_chunksize):
                w.write_batch(b)
    return buf.getvalue()


def _ipc_bytes(table, max_chunksize=None, compression=None, **kw):
    return _write(pa.ipc.new_file, table, max_chunksize, compression, **kw)


def _stream_bytes(table, max_chunksize=None, compression=None, **kw):
    return _write(
        pa.ipc.new_stream, table, max_chunksize, compression, **kw
    )


def _roundtrip(table, framing="file", **kw):
    """Write ``table`` in ``framing``, read it back, assert equality."""
    if framing == "file":
        got = read_arrow_ipc(_ipc_bytes(table, **kw))
    else:
        got = read_arrow_stream(_stream_bytes(table, **kw))
    assert got.schema == table.schema
    assert got.equals(table)
    return got


def _patch_once(data: bytes, old: bytes, new: bytes) -> bytes:
    assert data.count(old) == 1, (old, data.count(old))
    return data.replace(old, new)


def _batch_metadata(stream: bytes) -> tuple[int, int]:
    """Start and end of the first RecordBatch message's metadata in a
    stream whose Schema message has no dictionaries."""
    (schema_len,) = struct.unpack_from("<i", stream, 4)
    at = 8 + schema_len + 8  # the Schema message has no body
    (meta_len,) = struct.unpack_from("<i", stream, at - 4)
    return at, at + meta_len


def _swap_last_buffer(stream: bytes, old: bytes, new: bytes) -> bytes:
    """Replace ``old``, the last body buffer of a one-batch stream, with
    ``new``, patching its Buffer length and the message bodyLength."""
    start, end = _batch_metadata(stream)
    meta = stream[start:end]
    body = stream[end:-8]  # the last 8 bytes are EOS
    off = body.index(old)
    assert off + len(old) + 8 > len(body)  # nothing follows but padding
    new_body = body[:off] + new + bytes(-(off + len(new)) % 8)
    meta = _patch_once(
        meta,
        struct.pack("<qq", off, len(old)),
        struct.pack("<qq", off, len(new)),
    )
    meta = _patch_once(
        meta, struct.pack("<q", len(body)), struct.pack("<q", len(new_body))
    )
    return stream[:start] + meta + new_body + stream[-8:]


def _int64_lz4_stream(vals):
    """A one-column lz4 stream and its data buffer, as pyarrow lays it
    out: ``[i64 uncompressed length][lz4 frame]``."""
    raw = struct.pack(f"<{len(vals)}q", *vals)
    table = pa.table({"i": pa.array(vals, pa.int64())})
    data = _stream_bytes(table, compression="lz4")
    region = struct.pack("<q", len(raw)) + pa.compress(
        raw, codec="lz4", asbytes=True
    )
    assert region in data
    return table, raw, data, region


_FULL = pa.table(
    {
        "i64": pa.array([1, -2, None, 2**62, 0], pa.int64()),
        "i32": pa.array([1, 2, 3, -4, None], pa.int32()),
        "i8": pa.array([None, -128, 127, 0, 1], pa.int8()),
        "u16": pa.array([0, 65535, 7, None, 9], pa.uint16()),
        "u64": pa.array([2**63, 1, None, 0, 5], pa.uint64()),
        "f32": pa.array([1.5, None, -0.25, 3.0, 0.0], pa.float32()),
        "f64": pa.array([None, 2.5, -1e300, 0.0, 7.0], pa.float64()),
        "b": pa.array([True, None, False, True, False], pa.bool_()),
        "s": pa.array(["", "héllo", None, "x" * 300, "tab\t"], pa.string()),
        "raw": pa.array([b"\x00\xff", None, b"", b"abc", b"\x80"], pa.binary()),
    }
)


def test_all_supported_types_exact():
    got = _roundtrip(_FULL)
    assert got.to_pylist() == _FULL.to_pylist()


def test_multi_batch_and_empty_batch_accounting():
    got = _roundtrip(_FULL, max_chunksize=2)
    assert [b.num_rows for b in got.to_batches()] == [2, 2, 1]
    # zero-row table: no record batches or one empty one — both legal
    assert _roundtrip(_FULL.slice(0, 0)).num_rows == 0


def test_no_nulls_path_and_null_count_agreement():
    t = pa.table(
        {
            "k": pa.array(range(100), pa.int64()),
            "v": pa.array([f"s{i}" for i in range(100)], pa.string()),
        }
    )
    got = _roundtrip(t)
    assert [c.null_count for c in got.columns] == [0, 0]
    assert _roundtrip(_FULL).column("i64").null_count == 1


def test_error_is_domain_error_subclass():
    assert issubclass(ArrowIpcFormatError, DBPSInvalidInputError)


def test_reader_covers_every_schema_type_tag():
    """The exotic type tags — Null, Map, RunEndEncoded, the view family
    and ListView/LargeListView — pass full validation and read back
    equal in both framings."""
    t = pa.table(
        {
            "nul": pa.nulls(4),
            "m": pa.array(
                [{"a": 1}, None, {}, {"c": None}],
                pa.map_(pa.string(), pa.int64()),
            ),
            "ree": pa.RunEndEncodedArray.from_arrays(
                [2, 4], ["x", None]
            ),
            "sv": pa.array(
                ["short", None, "a string well beyond twelve bytes", ""],
                pa.string_view(),
            ),
            "bv": pa.array(
                [b"ab", b"0123456789abcdef", None, b""],
                pa.binary_view(),
            ),
            "lv": pa.array(
                [[1, 2], None, [], [3]], pa.list_view(pa.int64())
            ),
            "llv": pa.array(
                [["x"], ["y", None], None, []],
                pa.large_list_view(pa.string()),
            ),
        }
    )
    _roundtrip(t, max_chunksize=2)
    _roundtrip(t, framing="stream", max_chunksize=2)


def test_float16_both_directions():
    """HALF floats: the dtype of exported embedding tables reads back
    as exact binary16 values from files and streams."""
    import numpy as np

    vals = [1.5, -0.25, 65504.0, 0.0009765625]
    t16 = pa.table({"h": pa.array(np.array(vals, dtype=np.float16))})
    for framing in ("file", "stream"):
        got = _roundtrip(t16, framing=framing)
        assert got.schema.field("h").type == pa.float16()
        assert got.column("h").to_pylist() == vals


def test_dictionary_batches_decode():
    """Dictionary fields keep their value and index types — utf8 and
    int values, narrow index types, nulls."""
    t = pa.table(
        {
            "s": pa.array(["a", "b", "a", None, "c", "b"])
            .dictionary_encode(),
            "x": pa.array([1, 2, 3, 4, 5, 6], pa.int64()),
            "d": pa.DictionaryArray.from_arrays(
                pa.array([0, 1, 0, 2, None, 1], pa.int8()),
                pa.array([100, 200, 300], pa.int64()),
            ),
        }
    )
    got = _roundtrip(t)
    assert pa.types.is_dictionary(got.schema.field("s").type)
    assert got.schema.field("d").type.index_type == pa.int8()
    assert got.column("d").to_pylist() == [100, 200, 100, 300, None, 200]


def test_dictionary_delta_batches_decode():
    """isDelta dictionary batches APPEND to the id's values (IPC
    spec); pyarrow emits them with emit_dictionary_deltas=True."""
    a1 = pa.array(["x", "y"]).dictionary_encode()
    a2 = pa.array(["x", "y", "z", "w"]).dictionary_encode()
    schema = pa.schema([("s", a1.type)])
    t = pa.Table.from_batches(
        [pa.record_batch([a], schema=schema) for a in (a1, a2)]
    )
    kw = {"max_chunksize": 4, "emit_dictionary_deltas": True}
    _roundtrip(t, framing="stream", **kw)
    # the file reader resolves every batch against the final dictionary
    got = read_arrow_ipc(_ipc_bytes(t, **kw))
    assert got.column("s").to_pylist() == ["x", "y", "x", "y", "z", "w"]


def test_dictionary_encoded_nested_children_decode():
    """Dictionaries owned by fields NESTED inside Struct/List
    children resolve."""
    t = pa.table(
        {
            "st": pa.array(
                [
                    {"cat": "a", "n": 1},
                    {"cat": "b", "n": 2},
                    None,
                    {"cat": "a", "n": None},
                ],
                pa.struct(
                    [
                        ("cat", pa.dictionary(pa.int8(), pa.string())),
                        ("n", pa.int64()),
                    ]
                ),
            ),
            "ld": pa.array(
                [["x", "y"], None, [], ["y", None, "x"]],
                pa.list_(pa.dictionary(pa.int16(), pa.string())),
            ),
        }
    )
    _roundtrip(t, max_chunksize=2)


def test_dictionary_index_out_of_bounds_raises():
    """A corrupted index past the dictionary must raise, not wrap."""
    t = pa.table({"s": pa.array(["a", "b", "a"]).dictionary_encode()})
    data = bytearray(_ipc_bytes(t))
    # indices are int32 0,1,0 in the record-batch body; flip the
    # middle one to a huge value wherever the exact triple lives
    pat = struct.pack("<3i", 0, 1, 0)
    at = bytes(data).rfind(pat)
    assert at != -1
    data[at + 4 : at + 8] = struct.pack("<i", 99)
    with pytest.raises(ArrowIpcFormatError, match="out of bounds"):
        read_arrow_ipc(bytes(data))


def test_framing_errors():
    good = _ipc_bytes(_FULL)
    stream = _stream_bytes(_FULL)
    with pytest.raises(ArrowIpcFormatError, match="Not an Arrow file"):
        read_arrow_ipc(good[:-6] + b"NOPE01")
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(good[: len(good) // 2])
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(b"")
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(stream)  # a stream has no footer
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_stream(good)  # a file opens with magic, not a message
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_stream(b"")


def test_compressed_body_decodes():
    t = pa.table({"x": pa.array(range(1000), pa.int64())})
    _roundtrip(t, compression="lz4")


def _mutate(b: bytearray) -> None:
    for _ in range(random.randint(1, 8)):
        op = random.random()
        if op < 0.5 and b:
            b[random.randrange(len(b))] = random.randrange(256)
        elif op < 0.75 and len(b) > 4:
            cut = random.randrange(len(b) - 3)
            del b[cut : cut + random.randint(1, 16)]
        else:
            i = random.randrange(len(b) + 1)
            b[i:i] = bytes(
                random.randrange(256) for _ in range(random.randint(1, 8))
            )


def _battery(reader, bases, trials):
    """Each mutation either reads back equal to its base (it landed in
    padding or ignored space) or raises the domain error; returns how
    many read back equal."""
    survived = 0
    for _ in range(trials):
        ix = random.randrange(len(bases))
        b = bytearray(bases[ix][0])
        _mutate(b)
        try:
            if reader(bytes(b)).equals(bases[ix][1]):
                survived += 1
        except ArrowIpcFormatError:
            pass
    return survived


def test_mutation_battery():
    k50 = pa.table({"k": pa.array(range(50), pa.int64())})
    bases = [
        (_ipc_bytes(_FULL), _FULL),
        (_ipc_bytes(_FULL, max_chunksize=2), _FULL),
        (_ipc_bytes(k50), k50),
    ]
    random.seed(41)
    # most mutations must be caught structurally, not silently eaten
    assert _battery(read_arrow_ipc, bases, 3000) < 3000


def test_encoder_pyarrow_referee():
    """Nullable int, string, float, bool, uint16 and binary columns in
    two record batches keep their batch boundaries."""
    t = pa.table(
        {
            "a": pa.array([1, None, 3, 4], pa.int64()),
            "s": pa.array(["x", "héllo", None, ""]),
            "f": pa.array([1.5, None, -2.0, 0.0]),
            "b8": pa.array([True, False, None, None]),
            "u": pa.array([7, None, 65535, 0], pa.uint16()),
            "raw": pa.array([b"\x00\xff", None, b"", b"abc"]),
        }
    )
    got = _roundtrip(t, max_chunksize=3)
    assert [b.num_rows for b in got.to_batches()] == [3, 1]


def test_encoder_single_type_matrix_vs_pyarrow():
    cases = [
        (pa.int8(), [-128, 0, None, 127]),
        (pa.int32(), [1, None, -(2**31)]),
        (pa.uint64(), [2**63, None, 0]),
        (pa.float32(), [0.5, None, -2.25]),
        (pa.int64(), list(range(100))),
        (pa.string(), ["", "汉字 \U0001f600", None]),
    ]
    for typ, col in cases:
        got = _roundtrip(pa.table({"x": pa.array(col, typ)}))
        assert got.column("x").to_pylist() == col, typ


def test_encoder_empty_batch_and_no_batches():
    schema = pa.schema([("x", pa.int64())])
    none = pa.Table.from_batches([], schema=schema)
    assert _roundtrip(none).num_rows == 0
    empty = pa.Table.from_batches(
        [pa.record_batch([pa.array([], pa.int64())], schema=schema)]
    )
    for framing in ("file", "stream"):
        got = _roundtrip(empty, framing=framing)
        assert [b.num_rows for b in got.to_batches()] in ([], [0])


def test_encoder_ragged_batch_refused():
    """A record batch whose declared length disagrees with its columns
    is refused."""
    t = pa.table(
        {
            "a": pa.array([1, 2, 3], pa.int64()),
            "b": pa.array([4, 5, 6], pa.int64()),
        }
    )
    data = _stream_bytes(t)
    start, end = _batch_metadata(data)
    meta = bytearray(data[start:end])
    # each FieldNode packs (length, null_count) = (3, 0); the int64 3
    # that starts no FieldNode is RecordBatch.length
    three, node = struct.pack("<q", 3), struct.pack("<qq", 3, 0)
    hits = [
        i for i in range(len(meta) - 7)
        if meta[i : i + 8] == three and meta[i : i + 16] != node
    ]
    assert len(hits) == 1
    meta[hits[0] : hits[0] + 8] = struct.pack("<q", 5)
    ragged = data[:start] + bytes(meta) + data[end:]
    with pytest.raises(ArrowIpcFormatError, match="record batch length"):
        read_arrow_stream(ragged)


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
def test_compressed_bodies_decode(codec):
    """BodyCompression BUFFER framing — per-buffer i64 length prefix +
    LZ4/ZSTD frame — for plain, nullable AND dictionary-encoded
    columns, multi-batch.  The all-zero column's 700-row value buffer
    compresses past 255x under zstd."""
    assert 255 * len(pa.compress(bytes(700 * 8), codec="zstd")) < 700 * 8
    t = pa.table(
        {
            "x": pa.array(
                [None if i % 13 == 0 else i for i in range(5000)],
                pa.int64(),
            ),
            "s": pa.array(
                [None if i % 17 == 0 else f"val{i % 7}"
                 for i in range(5000)]
            ),
            "d": pa.array(
                [f"k{i % 5}" for i in range(5000)]
            ).dictionary_encode(),
            "z": pa.array([0] * 5000, pa.int64()),
        }
    )
    _roundtrip(t, max_chunksize=700, compression=codec)
    # a damaged compressed buffer must raise, not mis-inflate
    data = bytearray(_ipc_bytes(t, max_chunksize=700, compression=codec))
    data[len(data) // 2] ^= 0xFF
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(bytes(data))


@pytest.mark.parametrize("codec", [None, "lz4", "zstd"])
def test_nested_list_struct_decode(codec):
    """Lists, structs, list<struct>, list<list> across multiple
    batches and all three body codecs."""
    t = pa.table(
        {
            "flat": pa.array([1, 2, None, 4, 5], pa.int64()),
            "l": pa.array(
                [[1, 2], [], None, [None, 5], [6]],
                pa.list_(pa.int64()),
            ),
            "ls": pa.array(
                [["a"], None, [], ["b", None], ["c"]],
                pa.list_(pa.string()),
            ),
            "st": pa.array(
                [
                    {"a": 1, "b": "x"},
                    None,
                    {"a": None, "b": "y"},
                    {"a": 4, "b": None},
                    {"a": 5, "b": "z"},
                ],
                pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
            "lst": pa.array(
                [[{"a": 1}], [], None, [{"a": None}, {"a": 3}],
                 [{"a": 4}]],
                pa.list_(pa.struct([("a", pa.int64())])),
            ),
            "ll": pa.array(
                [[[1], [2, 3]], None, [[]], [None], [[4]]],
                pa.list_(pa.list_(pa.int64())),
            ),
        }
    )
    _roundtrip(t, max_chunksize=2, compression=codec)


def test_temporal_decimal_types_decode_vs_pyarrow():
    """date32/64, time32/time64 across all four units, timestamp
    s/ms/us/ns (naive, UTC, fixed offset, IANA zone) and decimal128,
    nulls and multi-batch framing included."""
    t = pa.table(
        {
            "d32": pa.array([19000, None, 0, -365], pa.date32()),
            "d64": pa.array(
                [86400000 * 3, None, 0, -86400000], pa.date64()
            ),
            "t32s": pa.array([0, 3723, None, 86399], pa.time32("s")),
            "t32ms": pa.array(
                [0, 3723456, None, 86399999], pa.time32("ms")
            ),
            "t64us": pa.array(
                [0, 3723456789, None, 86399999999], pa.time64("us")
            ),
            "t64ns": pa.array([123456789, None, 0, 1], pa.time64("ns")),
            "ts_us": pa.array(
                [1, None, -1, 1700000000_000000], pa.timestamp("us")
            ),
            "ts_ms_utc": pa.array(
                [1500, None, -1500, 1500], pa.timestamp("ms", tz="UTC")
            ),
            "ts_s_off": pa.array(
                [1500, None, 0, -7200], pa.timestamp("s", tz="+02:30")
            ),
            "ts_us_ny": pa.array(
                [1, None, 1700000000_000000, -1],
                pa.timestamp("us", tz="America/New_York"),
            ),
            "ts_ns": pa.array(
                [1, None, 8589934592, -1], pa.timestamp("ns")
            ),
            "dec": pa.array(
                [
                    decimal.Decimal("123.45"),
                    None,
                    decimal.Decimal("-0.01"),
                    decimal.Decimal("99999999.99"),
                ],
                pa.decimal128(10, 2),
            ),
        }
    )
    got = _roundtrip(t, max_chunksize=3)
    # ns timestamps stay exact int64 counts; no datetime conversion
    assert got.column("ts_ns").cast(pa.int64()).to_pylist() == [
        1, None, 8589934592, -1,
    ]


def test_temporal_decimal_dictionary_encoded():
    """Dict-encoded temporal/decimal values keep their unit/scale."""
    t = pa.table(
        {
            "d": pa.DictionaryArray.from_arrays(
                pa.array([0, 1, None, 0], pa.int8()),
                pa.array([18000, 19000], pa.date32()),
            ),
            "m": pa.DictionaryArray.from_arrays(
                pa.array([1, 0, 1, None], pa.int16()),
                pa.array(
                    [decimal.Decimal("1.50"), decimal.Decimal("-2.25")],
                    pa.decimal128(6, 2),
                ),
            ),
        }
    )
    _roundtrip(t)


def test_temporal_decimal_encoder_roundtrip_and_pyarrow_referee():
    """Python date/time/datetime/Decimal values built into Arrow columns
    come back as the same Python values after the IPC roundtrip."""
    import datetime as dt

    utc = dt.timezone.utc
    cols = {
        "d32": ([dt.date(2024, 2, 29), None, dt.date(1969, 12, 31)],
                pa.date32()),
        "t32": ([dt.time(1, 2, 3, 456000), None,
                 dt.time(23, 59, 59, 999000)], pa.time32("ms")),
        "t64": ([dt.time(0, 0, 0, 1), None, dt.time(12, 30, 0, 123456)],
                pa.time64("us")),
        "ts": ([dt.datetime(2024, 6, 1, 12, 0, 0, 250000), None,
                dt.datetime(1969, 7, 20, 20, 17, 40)], pa.timestamp("us")),
        "tsz": ([dt.datetime(2024, 6, 1, 12, 0, 0, 250000, tzinfo=utc),
                 None, dt.datetime(1970, 1, 1, tzinfo=utc)],
                pa.timestamp("ms", tz="UTC")),
        "dec": ([decimal.Decimal("1.234"), None,
                 decimal.Decimal("-987654.321")], pa.decimal128(12, 3)),
    }
    t = pa.table({n: pa.array(v, typ) for n, (v, typ) in cols.items()})
    got = _roundtrip(t)
    for name, (vals, _) in cols.items():
        assert got.column(name).to_pylist() == vals, name


def test_decimal_scale_misfit_raises():
    """An unscaled value with more digits than the declared precision
    is refused (1234567 at decimal128(6, 2) would be 12345.67)."""
    raw = pa.array([decimal.Decimal(1234567)], pa.decimal128(7, 0))
    bad = pa.Array.from_buffers(pa.decimal128(6, 2), 1, raw.buffers())
    with pytest.raises(ArrowIpcFormatError, match="precision"):
        read_arrow_ipc(_ipc_bytes(pa.table({"d": bad})))


def test_large_offset_types_decode_vs_pyarrow():
    """The Large* (64-bit offset) family — large_string, large_binary,
    large_list (including large_list<struct> and list-of-large_string
    mixes)."""
    t = pa.table(
        {
            "ls": pa.array(
                ["", "héllo", None, "x" * 300], pa.large_string()
            ),
            "lb": pa.array(
                [b"\x00\xff", None, b"", b"abc"], pa.large_binary()
            ),
            "ll": pa.array(
                [[1, 2], [], None, [None, 5]],
                pa.large_list(pa.int64()),
            ),
            "lls": pa.array(
                [[{"a": 1}], None, [], [{"a": None}, {"a": 3}]],
                pa.large_list(pa.struct([("a", pa.int64())])),
            ),
            "l_ls": pa.array(
                [["a"], None, [], ["b", None]],
                pa.list_(pa.large_string()),
            ),
        }
    )
    _roundtrip(t, max_chunksize=2)


def test_encoder_nested_list_struct_both_referees():
    """Nested Python rows built into List/Struct columns come back as
    the same rows from both framings."""
    rows = {
        "l": [[1, 2], [], None, [None, 5]],
        "st": [{"a": 1, "b": "x"}, None, {"a": None, "b": "y"},
               {"a": 4, "b": None}],
        "ls": [[{"a": 1}], None, [], [{"a": None}, {"a": 3}]],
        "ll": [[[1], [2, 3]], None, [[]], [None]],
    }
    t = pa.table({n: pa.array(v) for n, v in rows.items()})
    for framing in ("file", "stream"):
        got = _roundtrip(t, framing=framing)
        assert got.to_pydict() == rows


def test_fixed_size_types_decode_vs_pyarrow():
    """FixedSizeList (the embedding column type) and FixedSizeBinary,
    nulls and multi-batch included."""
    t = pa.table(
        {
            "emb": pa.array(
                [[1.0, 2.0, 3.0], None, [0.5, -0.5, 0.0],
                 [9.0, 8.0, 7.0]],
                pa.list_(pa.float32(), 3),
            ),
            "uid": pa.array(
                [b"abcd", None, b"\x00\x01\x02\x03", b"zzzz"],
                pa.binary(4),
            ),
            "fl_i": pa.array(
                [[1, None], [3, 4], None, [5, 6]],
                pa.list_(pa.int64(), 2),
            ),
        }
    )
    got = _roundtrip(t, max_chunksize=2)
    assert got.schema.field("emb").type.list_size == 3
    assert got.schema.field("uid").type.byte_width == 4


def test_encoder_nested_bad_shapes_raise_domain_errors():
    """List offsets that run backwards are refused."""
    good = pa.array([[1, 2], [3]], pa.list_(pa.int64()))
    offsets = pa.py_buffer(struct.pack("<3i", 0, 3, 2))
    bad = pa.Array.from_buffers(
        good.type, 2, [None, offsets], children=[good.values]
    )
    with pytest.raises(ArrowIpcFormatError, match="offset"):
        read_arrow_ipc(_ipc_bytes(pa.table({"l": bad})))


def test_encode_fixed_binary_pyarrow_referee_and_roundtrip():
    vals = [b"aaaa", None, b"\x00\x01\x02\x03"]
    got = _roundtrip(pa.table({"fb": pa.array(vals, pa.binary(4))}))
    assert got.column("fb").to_pylist() == vals


def test_encode_fixed_binary_wrong_width_is_domain_error():
    """A FixedSizeBinary data buffer shorter than length x byte width
    is refused."""
    t = pa.table({"fb": pa.array([b"aaaa", b"bbbb", b"cccc"], pa.binary(4))})
    data = _stream_bytes(t)
    # non-null column: validity (0, 0), then data at offset 0, 12 bytes
    short = _patch_once(
        data, struct.pack("<qq", 0, 12), struct.pack("<qq", 0, 8)
    )
    with pytest.raises(ArrowIpcFormatError, match="too small"):
        read_arrow_stream(short)


def test_dictionary_encoded_fixed_binary_keeps_byte_width():
    arr = pa.array(
        [b"aaaa", b"bbbb", b"aaaa", None, b"bbbb"], type=pa.binary(4)
    ).dictionary_encode()
    got = _roundtrip(pa.table({"d": arr}))
    assert got.column("d").to_pylist() == [
        b"aaaa", b"bbbb", b"aaaa", None, b"bbbb",
    ]


def test_encode_decimal128_overflow_is_domain_error():
    """A 39-digit unscaled value fits in 128 bits but not in
    decimal128(38, 0), and is refused."""
    unscaled = 10**38
    raw = unscaled.to_bytes(16, "little", signed=True)
    bad = pa.Array.from_buffers(
        pa.decimal128(38, 0), 1, [None, pa.py_buffer(raw)]
    )
    with pytest.raises(ArrowIpcFormatError, match="precision"):
        read_arrow_ipc(_ipc_bytes(pa.table({"d": bad})))


def test_duration_all_units_decode_as_exact_integers():
    """Duration in all four TimeUnits keeps exact integer counts (a
    timedelta conversion would truncate ns past microseconds)."""
    t = pa.table(
        {
            "ds": pa.array([1, None, -5], pa.duration("s")),
            "dms": pa.array([1000, 2000, None], pa.duration("ms")),
            "dus": pa.array([7, 8, 9], pa.duration("us")),
            "dns": pa.array(
                [123456789012345, None, -1], pa.duration("ns")
            ),
        }
    )
    got = _roundtrip(t)
    assert [
        got.column(n).cast(pa.int64()).to_pylist() for n in got.column_names
    ] == [
        [1, None, -5], [1000, 2000, None], [7, 8, 9],
        [123456789012345, None, -1],
    ]


def test_interval_month_day_nano_roundtrip_pyarrow_referee():
    t = pa.table(
        {
            "mdn": pa.array(
                [(1, 2, 3_000_000_000), None, (-1, 15, 42)],
                pa.month_day_nano_interval(),
            )
        }
    )
    got = _roundtrip(t)
    assert [
        None if v is None else (v.months, v.days, v.nanoseconds)
        for v in got.column("mdn").to_pylist()
    ] == [(1, 2, 3_000_000_000), None, (-1, 15, 42)]


def test_decimal256_reader_is_exact_beyond_context_precision():
    """decimal256 keeps a 46-digit value exact."""
    big = decimal.Decimal(
        "12345678901234567890123456789012345678901234.56"
    )
    t = pa.table(
        {
            "d": pa.array(
                [big, None, decimal.Decimal("-1.01")],
                pa.decimal256(60, 2),
            )
        }
    )
    got = _roundtrip(t)
    assert got.column("d")[0].as_py() == big


def test_decimal128_full_38_digits_is_exact():
    big = decimal.Decimal("999999999999999999999999999999999999.38")
    t = pa.table({"d": pa.array([big], pa.decimal128(38, 2))})
    assert _roundtrip(t).column("d")[0].as_py() == big


def test_union_sparse_and_dense_decode():
    """Union, both modes: no validity buffer, a slot's nullness comes
    from the selected child."""
    types = pa.array([0, 1, 0, 1], pa.int8())
    sparse = pa.UnionArray.from_sparse(
        types,
        [pa.array([1, 2, 3, 4], pa.int64()),
         pa.array(["w", "x", "y", "z"], pa.string())],
    )
    got = _roundtrip(pa.table({"u": sparse}))
    assert got.column("u").to_pylist() == [1, "x", 3, "z"]
    dense = pa.UnionArray.from_dense(
        types,
        pa.array([0, 0, 1, 1], pa.int32()),
        [pa.array([10, None], pa.int64()),
         pa.array(["p", "q"], pa.string())],
    )
    got = _roundtrip(pa.table({"u": dense}))
    assert got.column("u").to_pylist() == [10, "p", None, "q"]


def test_encode_duration_interval_decimal256_pyarrow_referee():
    """Duration, MONTH_DAY_NANO and decimal256 side by side in one
    multi-batch stream."""
    big = decimal.Decimal(
        "12345678901234567890123456789012345678901234.56"
    )
    t = pa.table(
        {
            "dn": pa.array([123456789012345, None, -1], pa.duration("ns")),
            "mdn": pa.array(
                [(1, 2, 3_000_000_000), None, (-1, 15, 42)],
                pa.month_day_nano_interval(),
            ),
            "d2": pa.array(
                [big, None, decimal.Decimal("-1.01")], pa.decimal256(60, 2)
            ),
        }
    )
    got = _roundtrip(t, framing="stream", max_chunksize=2)
    assert [str(f.type) for f in got.schema] == [
        "duration[ns]", "month_day_nano_interval", "decimal256(60, 2)",
    ]


def test_stream_format_pyarrow_written_multibatch_dict_temporal():
    """The footer-less STREAM framing — Schema message, dictionary +
    record batches in stream order, EOS marker — over multi-batch
    dictionary-encoded and temporal columns."""
    t = pa.table(
        {
            "a": pa.array([1, None, 3, 4, 5], pa.int64()),
            "s": pa.array(["x", "y", None, "x", "z"]).dictionary_encode(),
            "ts": pa.array(
                [1000, 2000, 3000, None, 5000],
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )
    got = _roundtrip(t, framing="stream", max_chunksize=2)
    assert got.column("a").num_chunks == 3


def test_stream_format_encode_and_framing_errors():
    """A clean EOF at a message boundary without the EOS marker is
    accepted (the spec allows it); truncation mid-message and a
    stream that does not open with its Schema are domain errors."""
    t = pa.table(
        {
            "a": pa.array([1, None, 3, 4], pa.int64()),
            "s": pa.array(["p", "q", None, "r"]),
        }
    )
    data = _stream_bytes(t, max_chunksize=3)
    assert data[-8:] == b"\xff\xff\xff\xff\x00\x00\x00\x00"
    assert read_arrow_stream(data[:-8]).equals(t)
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_stream(data[: len(data) // 2 + 3])
    (schema_len,) = struct.unpack_from("<i", data, 4)
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_stream(data[8 + schema_len :])


def test_union_encoder_both_modes_pyarrow_referee():
    """Unions with custom (non-contiguous) type codes read back in both
    modes; a type id outside the declared codes is refused."""
    kids = [pa.array([1, None, 7], pa.int64()), pa.array(["a", "b", None])]
    for mode in ("dense", "sparse"):
        codes = pa.array([5, 9, 5], pa.int8())
        if mode == "sparse":
            u = pa.UnionArray.from_sparse(
                codes, [k.take([0, 1, 2]) for k in kids], ["num", "txt"],
                [5, 9],
            )
        else:
            u = pa.UnionArray.from_dense(
                codes, pa.array([0, 0, 2], pa.int32()), kids,
                ["num", "txt"], [5, 9],
            )
        got = _roundtrip(pa.table({"u": u}))
        assert str(got.schema.field("u").type).startswith(f"{mode}_union")
    bad = pa.UnionArray.from_sparse(
        pa.array([0, 1, 7], pa.int8()),
        [pa.array([1, 2, 3]), pa.array(["a", "b", "c"])],
    )
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(_ipc_bytes(pa.table({"u": bad})))


def test_stream_mutation_battery():
    """The file-format battery's twin over the STREAM framing."""
    view_t = pa.table(
        {
            "v": pa.array(
                ["short", None, "a string well beyond twelve bytes"],
                pa.string_view(),
            )
        }
    )
    bases = [
        (_stream_bytes(_FULL), _FULL),
        (_stream_bytes(_FULL, max_chunksize=2), _FULL),
        (_stream_bytes(view_t), view_t),
    ]
    random.seed(43)
    assert _battery(read_arrow_stream, bases, 2000) < 2000


def test_encoder_dictionary_encoding_both_framings():
    """Dictionaries over utf8 (int8 indices), int64 (int32 indices) and
    date32 values, across two batches, in both framings."""
    t = pa.table(
        {
            "cat": pa.DictionaryArray.from_arrays(
                pa.array([0, 1, None, 0, 2, 2, 0], pa.int8()),
                pa.array(["a", "b", "c"]),
            ),
            "qty": pa.DictionaryArray.from_arrays(
                pa.array([0, 0, 1, None, 0, 2, 1], pa.int32()),
                pa.array([10, 20, 30], pa.int64()),
            ),
            "d": pa.DictionaryArray.from_arrays(
                pa.array([0, None, 1, 0, 1, 1, 0], pa.int16()),
                pa.array([18262, 18752], pa.date32()),
            ),
        }
    )
    for framing in ("file", "stream"):
        got = _roundtrip(t, framing=framing, max_chunksize=5)
        assert str(got.schema.field("cat").type) == (
            "dictionary<values=string, indices=int8, ordered=0>"
        )


def test_encode_view_types_pyarrow_referee():
    """Utf8View/BinaryView (variadic data buffers), ListView/
    LargeListView (offsets+sizes) and RunEndEncoded ((run_ends,
    values) children), values crossing the 12-byte inline bound both
    ways."""
    lv = [[1, 2, 3], None, [], [4], [5, 6], None, [7, 8, 9, 10]]
    t = pa.table(
        {
            "sv": pa.array(
                ["short", None, "x" * 40, "tiny", "y" * 13, "", None],
                pa.string_view(),
            ),
            "bv": pa.array(
                [b"ab", None, b"z" * 25, b"", b"q" * 12, b"w" * 13, b"k"],
                pa.binary_view(),
            ),
            "ree": pc.run_end_encode(
                pa.array([5, 5, None, None, 7, 7, 7], pa.int64())
            ),
            "lv": pa.array(lv, pa.list_view(pa.int64())),
            "llv": pa.array(lv, pa.large_list_view(pa.int64())),
        }
    )
    _roundtrip(t)


def test_encode_view_types_multibatch_stream_and_edges():
    """Views across MULTIPLE batches, the all-inline batch (no >12-byte
    value), the all-null REE run, and the empty batch."""
    schema = pa.schema(
        [
            ("sv", pa.string_view()),
            ("ree", pa.run_end_encoded(pa.int32(), pa.string())),
        ]
    )

    def batch(sv, ree):
        return pa.record_batch(
            [
                pa.array(sv, pa.string_view()),
                pc.run_end_encode(pa.array(ree, pa.string())),
            ],
            schema=schema,
        )

    t = pa.Table.from_batches(
        [
            batch(["inline", "also-inline", None], ["a", "a", "a"]),
            batch(["L" * 30, "m", "N" * 13], [None, None, None]),
            batch([], []),
        ]
    )
    got = _roundtrip(t, framing="stream", max_chunksize=3)
    assert got.column("sv").to_pylist() == [
        "inline", "also-inline", None, "L" * 30, "m", "N" * 13,
    ]


def test_encode_map_pyarrow_referee():
    """Map through the List<entries-struct> layout: null map, empty
    map, duplicate keys, null values."""
    maps = [
        [("a", 1), ("b", None)],
        None,
        [],
        [("dup", 2), ("dup", 3)],
        [("z", 9)],
    ]
    t = pa.table({"m": pa.array(maps, pa.map_(pa.string(), pa.int64()))})
    got = _roundtrip(t)
    assert got.column("m").to_pylist() == maps


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
@pytest.mark.parametrize("framing", ["file", "stream"])
def test_encoder_compressed_bodies_both_referees(codec, framing):
    """Compressed bodies in both framings: nullable ints, strings
    (offsets + data buffers), floats over two batches; the repetitive
    data must shrink."""
    t = pa.table(
        {
            "i": pa.array([1, 2, None, 4] * 64 + [9, 8, 7], pa.int64()),
            "s": pa.array(["abc", "de", None, "x" * 48] * 64
                          + ["zz", "yy", None]),
            "f": pa.array([0.5, 1.25, 2.0, 3.75] * 64 + [1.0, 2.0, 3.0]),
        }
    )
    got = _roundtrip(t, framing=framing, max_chunksize=256, compression=codec)
    assert got.num_rows == 259
    write = _ipc_bytes if framing == "file" else _stream_bytes
    assert len(write(t, 256, codec)) < len(write(t, 256))


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
def test_encoder_compressed_dictionary_batches(codec):
    """DictionaryBatch bodies compress too."""
    col = ["alpha" * 20, "beta" * 20, None, "alpha" * 20] * 32
    t = pa.table({"d": pa.array(col).dictionary_encode()})
    for framing in ("file", "stream"):
        _roundtrip(t, framing=framing, compression=codec)


def test_encoder_compression_stored_raw_escape():
    """A buffer stored raw behind the spec's -1 length prefix reads
    back exactly."""
    vals = list(range(64)) * 4
    table, raw, data, region = _int64_lz4_stream(vals)
    stored = _swap_last_buffer(data, region, struct.pack("<q", -1) + raw)
    assert read_arrow_stream(stored).equals(table)


def test_encoder_compression_empty_and_unknown():
    """Zero-row compressed batches read back in both framings."""
    t = pa.table({"i": pa.array([], pa.int64())})
    for framing in ("file", "stream"):
        for codec in ("lz4", "zstd"):
            assert _roundtrip(t, framing=framing, compression=codec) \
                .num_rows == 0


def test_encoder_compression_corruptions_raise():
    """A lying uncompressed length and a zero-filled compressed frame
    both fail loudly."""
    t = pa.table({"i": pa.array(range(512), pa.int64())})
    blob = _ipc_bytes(t, compression="zstd")
    _roundtrip(t, compression="zstd")

    # the data buffer's 8-byte length prefix inside the body
    want = struct.pack("<q", 512 * 8)
    at = blob.find(want)
    assert at > 0
    lied = blob[:at] + struct.pack("<q", 512 * 8 + 8) + blob[at + 8 :]
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(lied)

    cut = bytearray(blob)
    for i in range(at + 16, at + 48):
        cut[i] = 0
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(bytes(cut))


@pytest.mark.parametrize("shape", ["empty", "two_frames", "content_checksum"])
def test_hostile_lz4_buffers_raise(shape):
    """Each lz4 buffer must be exactly one frame that decodes to its
    declared length, with liblz4's checksums verified."""
    vals = list(range(64)) * 4
    table, raw, data, region = _int64_lz4_stream(vals)
    if shape == "empty":
        frame = b""
    elif shape == "two_frames":
        half = len(raw) // 2
        frame = b"".join(
            pa.compress(part, codec="lz4", asbytes=True)
            for part in (raw[:half], raw[half:])
        )
    else:
        frame = bytearray(lz4_frame(raw))
        frame[-1] ^= 0x01
    # the same surgery with a good checksummed frame reads back equal
    good = struct.pack("<q", len(raw)) + lz4_frame(raw)
    assert read_arrow_stream(_swap_last_buffer(data, region, good)).equals(
        table
    )
    hostile = struct.pack("<q", len(raw)) + bytes(frame)
    with pytest.raises(ArrowIpcFormatError, match="(?i)lz4"):
        read_arrow_stream(_swap_last_buffer(data, region, hostile))
