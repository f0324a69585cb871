"""From-scratch Arrow IPC reader vs the REAL pyarrow writer.

The interop direction is the strong one: every fixture file is
produced by pyarrow's own IPC writer (the independent producer), and
``core/arrowipc.py`` — including its hand-rolled flatbuffers walk —
must recover the exact values, nulls included.  A 3000-mutation
battery proves every escape from hostile bytes is the domain error.
"""

import io
import random

import pyarrow as pa
import pytest

from databatchprotectionservice_spark.core.arrowipc import (
    ArrowIpcFormatError,
    read_arrow_ipc,
)
from databatchprotectionservice_spark.core.errors import (
    DBPSInvalidInputError,
)


def _ipc_bytes(table: pa.Table, max_chunksize=None) -> bytes:
    buf = io.BytesIO()
    with pa.ipc.new_file(buf, table.schema) as w:
        if max_chunksize is None:
            w.write_table(table)
        else:
            for b in table.to_batches(max_chunksize=max_chunksize):
                w.write_batch(b)
    return buf.getvalue()


def _columns(out: dict) -> list[list]:
    nf = len(out["fields"])
    return [
        sum((b["columns"][i] for b in out["batches"]), [])
        for i in range(nf)
    ]


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
    out = read_arrow_ipc(_ipc_bytes(_FULL))
    assert [f.name for f in out["fields"]] == _FULL.column_names
    assert [f.type_name for f in out["fields"]] == [
        "int64", "int32", "int8", "uint16", "uint64",
        "float32", "float64", "bool", "utf8", "binary",
    ]
    assert _columns(out) == [
        _FULL.column(i).to_pylist() for i in range(_FULL.num_columns)
    ]


def test_multi_batch_and_empty_batch_accounting():
    out = read_arrow_ipc(_ipc_bytes(_FULL, max_chunksize=2))
    assert [b["length"] for b in out["batches"]] == [2, 2, 1]
    assert _columns(out) == [
        _FULL.column(i).to_pylist() for i in range(_FULL.num_columns)
    ]
    # zero-row table: no record batches or one empty one — both legal
    empty = _FULL.slice(0, 0)
    out0 = read_arrow_ipc(_ipc_bytes(empty))
    assert sum(b["length"] for b in out0["batches"]) == 0


def test_no_nulls_path_and_null_count_agreement():
    t = pa.table(
        {
            "k": pa.array(range(100), pa.int64()),
            "v": pa.array([f"s{i}" for i in range(100)], pa.string()),
        }
    )
    out = read_arrow_ipc(_ipc_bytes(t))
    assert _columns(out) == [t.column(0).to_pylist(), t.column(1).to_pylist()]


def test_error_is_domain_error_subclass():
    assert issubclass(ArrowIpcFormatError, DBPSInvalidInputError)


def test_reader_covers_every_schema_type_tag():
    """r13 closure: the reader decodes EVERY Schema.fbs type tag —
    Null through LargeListView — so no pyarrow-writable table is out
    of scope.  One column of each remaining exotic tag, value-exact
    against pyarrow."""
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
    out = read_arrow_ipc(_ipc_bytes(t, max_chunksize=2))
    assert [f.type_name for f in out["fields"]] == [
        "null", "map", "run_end_encoded", "utf8_view", "binary_view",
        "list_view", "large_list_view",
    ]
    for ci, name in enumerate(t.column_names):
        got = [v for b in out["batches"] for v in b["columns"][ci]]
        assert got == t.column(name).to_pylist(), name


def test_float16_both_directions():
    """HALF floats (r13): fp16 is THE dtype of exported embedding
    tables — exact binary16 values through reader AND encoder."""
    import numpy as np

    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    vals = [1.5, -0.25, 65504.0, 0.0009765625]
    t16 = pa.table(
        {"h": pa.array(np.array(vals, dtype=np.float16))}
    )
    out = read_arrow_ipc(_ipc_bytes(t16))
    assert out["fields"][0].type_name == "float16"
    assert out["batches"][0]["columns"][0] == vals
    data = encode_arrow_ipc(
        [FieldSpec("h", True, "float16", 16)], [[[1.5, None, -0.25]]]
    )
    tt = pa.ipc.open_file(io.BytesIO(data)).read_all()
    assert str(tt.schema.field("h").type) == "halffloat"
    assert tt.column("h").to_pylist() == [1.5, None, -0.25]
    assert read_arrow_ipc(data)["batches"][0]["columns"][0] == [
        1.5, None, -0.25,
    ]


def _read_all_columns(data):
    got = read_arrow_ipc(data)
    cols = [[] for _ in got["fields"]]
    for b in got["batches"]:
        for ci, c in enumerate(b["columns"]):
            cols[ci].extend(c)
    return got, cols


def test_dictionary_batches_decode():
    """The r11 seam closure: DictionaryEncoding fields resolve
    through the footer's dictionary blocks — utf8 and int values,
    narrow index types, nulls — pinned against pyarrow's writer."""
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
    got, cols = _read_all_columns(_ipc_bytes(t))
    assert [f.type_name for f in got["fields"]] == [
        "utf8", "int64", "int64",
    ]
    assert got["fields"][0].dict_id is not None
    assert got["fields"][2].index_type == "int8"
    for ci in range(3):
        assert cols[ci] == t.column(ci).to_pylist()


def test_dictionary_delta_batches_decode():
    """isDelta dictionary batches APPEND to the id's values (IPC
    spec); pyarrow emits them with emit_dictionary_deltas=True."""
    import io

    opts = pa.ipc.IpcWriteOptions(emit_dictionary_deltas=True)
    a1 = pa.array(["x", "y"]).dictionary_encode()
    a2 = pa.array(["x", "y", "z", "w"]).dictionary_encode()
    schema = pa.schema([("s", a1.type)])
    sink = io.BytesIO()
    with pa.ipc.new_file(sink, schema, options=opts) as w:
        w.write_batch(pa.record_batch([a1], schema=schema))
        w.write_batch(pa.record_batch([a2], schema=schema))
    _, cols = _read_all_columns(sink.getvalue())
    assert cols[0] == ["x", "y", "x", "y", "z", "w"]


def test_dictionary_encoded_nested_children_decode():
    """ADVICE r11: dict ids owned by primitives NESTED inside Struct/
    List children must resolve — the owner scan recurses the field
    tree instead of stopping at the top level (the decode path always
    accepted them; resolution used to fail with 'matches no schema
    field')."""
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
    got, cols = _read_all_columns(_ipc_bytes(t, max_chunksize=2))
    for ci in range(t.num_columns):
        assert cols[ci] == t.column(ci).to_pylist(), ci


def test_dictionary_index_out_of_bounds_raises():
    """A corrupted index past the dictionary must raise, not wrap."""
    t = pa.table({"s": pa.array(["a", "b", "a"]).dictionary_encode()})
    data = bytearray(_ipc_bytes(t))
    # indices are int32 0,1,0 in the record-batch body; flip the
    # middle one to a huge value wherever the exact triple lives
    import struct as _struct

    pat = _struct.pack("<3i", 0, 1, 0)
    at = bytes(data).rfind(pat)
    assert at != -1
    data[at + 4 : at + 8] = _struct.pack("<i", 99)
    with pytest.raises(ArrowIpcFormatError, match="outside dictionary"):
        read_arrow_ipc(bytes(data))


def test_framing_errors():
    good = _ipc_bytes(_FULL)
    with pytest.raises(ArrowIpcFormatError, match="leading"):
        read_arrow_ipc(b"NOPE01" + good[6:])
    with pytest.raises(ArrowIpcFormatError, match="trailing"):
        read_arrow_ipc(good[:-6] + b"NOPE01")
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(good[: len(good) // 2])
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(b"")


def test_compressed_body_decodes():
    """Formerly the refusal test — since r11 compressed bodies decode
    through liblz4 and libzstd; the plain smoke case lives here,
    the full matrix in test_compressed_bodies_decode."""
    buf = io.BytesIO()
    opts = pa.ipc.IpcWriteOptions(compression="lz4")
    t = pa.table({"x": pa.array(range(1000), pa.int64())})
    with pa.ipc.new_file(buf, t.schema, options=opts) as w:
        w.write_table(t)
    _, cols = _read_all_columns(buf.getvalue())
    assert cols[0] == list(range(1000))


def test_mutation_battery():
    bases = [
        bytearray(_ipc_bytes(_FULL)),
        bytearray(_ipc_bytes(_FULL, max_chunksize=2)),
        bytearray(
            _ipc_bytes(
                pa.table({"k": pa.array(range(50), pa.int64())})
            )
        ),
    ]
    want = [
        [_FULL.column(i).to_pylist() for i in range(_FULL.num_columns)],
        [_FULL.column(i).to_pylist() for i in range(_FULL.num_columns)],
        [list(range(50))],
    ]
    random.seed(41)
    survived = 0
    for _ in range(3000):
        ix = random.randrange(len(bases))
        b = bytearray(bases[ix])
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
                    random.randrange(256)
                    for _ in range(random.randint(1, 8))
                )
        try:
            out = read_arrow_ipc(bytes(b))
            # a mutation may land in padding/ignored space; the walk
            # must then still be value-exact or have DETECTED damage
            if _columns(out) == want[ix]:
                survived += 1
        except ArrowIpcFormatError:
            pass
    # most mutations must be caught structurally, not silently eaten
    assert survived < 3000


# ---------------------------------------------------------------------------
# Write direction: from-scratch flatbuffers builder + IPC encoder.
# pyarrow is the independent REFEREE here (it must read our bytes).
# ---------------------------------------------------------------------------

from databatchprotectionservice_spark.core.arrowipc import (  # noqa: E402
    FieldSpec,
    encode_arrow_ipc,
)

_W_FIELDS = [
    FieldSpec("a", True, "int64", 64),
    FieldSpec("s", True, "utf8", 0),
    FieldSpec("f", True, "float64", 64),
    FieldSpec("b8", True, "bool", 1),
    FieldSpec("u", True, "uint16", 16),
    FieldSpec("raw", True, "binary", 0),
]
_W_BATCHES = [
    [
        [1, None, 3],
        ["x", "héllo", None],
        [1.5, None, -2.0],
        [True, False, None],
        [7, None, 65535],
        [b"\x00\xff", None, b""],
    ],
    [[4], [""], [0.0], [None], [0], [b"abc"]],
]
_W_WANT = [
    [1, None, 3, 4],
    ["x", "héllo", None, ""],
    [1.5, None, -2.0, 0.0],
    [True, False, None, None],
    [7, None, 65535, 0],
    [b"\x00\xff", None, b"", b"abc"],
]


def test_encoder_pyarrow_referee():
    data = encode_arrow_ipc(_W_FIELDS, _W_BATCHES)
    r = pa.ipc.open_file(io.BytesIO(data))
    assert r.num_record_batches == 2
    assert r.schema.names == [f.name for f in _W_FIELDS]
    t = r.read_all()
    assert [t.column(i).to_pylist() for i in range(6)] == _W_WANT


def test_encoder_self_twin():
    data = encode_arrow_ipc(_W_FIELDS, _W_BATCHES)
    out = read_arrow_ipc(data)
    assert out["fields"] == _W_FIELDS
    assert _columns(out) == _W_WANT


def test_encoder_single_type_matrix_vs_pyarrow():
    cases = [
        (FieldSpec("x", True, "int8", 8), [-128, 0, None, 127]),
        (FieldSpec("x", True, "int32", 32), [1, None, -(2**31)]),
        (FieldSpec("x", True, "uint64", 64), [2**63, None, 0]),
        (FieldSpec("x", True, "float32", 32), [0.5, None, -2.25]),
        (FieldSpec("x", False, "int64", 64), list(range(100))),
        (FieldSpec("x", True, "utf8", 0), ["", "汉字 \U0001f600", None]),
    ]
    for spec, col in cases:
        data = encode_arrow_ipc([spec], [[col]])
        t = pa.ipc.open_file(io.BytesIO(data)).read_all()
        assert t.column(0).to_pylist() == col, spec
        out = read_arrow_ipc(data)
        assert _columns(out) == [col], spec


def test_encoder_empty_batch_and_no_batches():
    data = encode_arrow_ipc([FieldSpec("x", True, "int64", 64)], [])
    assert pa.ipc.open_file(io.BytesIO(data)).read_all().num_rows == 0
    data2 = encode_arrow_ipc([FieldSpec("x", True, "int64", 64)], [[[]]])
    assert pa.ipc.open_file(io.BytesIO(data2)).read_all().num_rows == 0
    assert read_arrow_ipc(data2)["batches"][0]["length"] == 0


def test_encoder_ragged_batch_refused():
    with pytest.raises(ArrowIpcFormatError, match="ragged"):
        encode_arrow_ipc(
            [FieldSpec("a", True, "int64", 64), FieldSpec("b", True, "int64", 64)],
            [[[1, 2], [1]]],
        )
    with pytest.raises(ArrowIpcFormatError, match="columns"):
        encode_arrow_ipc([FieldSpec("a", True, "int64", 64)], [[[1], [2]]])


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
def test_compressed_bodies_decode(codec):
    """BodyCompression BUFFER framing (r11): per-buffer i64 length
    prefix + LZ4/ZSTD frame, inflated by the reader's codecs, pinned
    against pyarrow's compressing writer — plain, nullable AND
    dictionary-encoded columns, multi-batch.  The all-zero column's
    700-row value buffer compresses past 255x under zstd, beyond the
    ratio rule of the page layer's ``compression.decompress``."""
    import io

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
    sink = io.BytesIO()
    opts = pa.ipc.IpcWriteOptions(compression=codec)
    with pa.ipc.new_file(sink, t.schema, options=opts) as w:
        for b in t.to_batches(max_chunksize=700):
            w.write_batch(b)
    _, cols = _read_all_columns(sink.getvalue())
    for ci in range(t.num_columns):
        assert cols[ci] == t.column(ci).to_pylist(), ci
    # a truncated compressed buffer must raise, not mis-inflate
    data = bytearray(sink.getvalue())
    data[len(data) // 2] ^= 0xFF
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_ipc(bytes(data))


@pytest.mark.parametrize("codec", [None, "lz4", "zstd"])
def test_nested_list_struct_decode(codec):
    """Lists, structs, list<struct>, list<list> (r11): depth-first
    node/buffer consumption per the columnar spec's flattening order
    — validity+offsets then child for List, validity then children
    for Struct — across multiple batches and all three body codecs."""
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
    sink = io.BytesIO()
    opts = pa.ipc.IpcWriteOptions(compression=codec)
    with pa.ipc.new_file(sink, t.schema, options=opts) as w:
        for b in t.to_batches(max_chunksize=2):
            w.write_batch(b)
    got, cols = _read_all_columns(sink.getvalue())
    assert [f.type_name for f in got["fields"]] == [
        "int64", "list", "list", "struct", "list", "list",
    ]
    for ci in range(t.num_columns):
        assert cols[ci] == t.column(ci).to_pylist(), ci


def _norm_temporal(v):
    """Normalize pyarrow's to_pylist variants (pandas Timestamp, pytz
    tzinfo) and ours (stdlib datetime, int epoch-nanos) to a common
    comparable form: tz-aware -> (epoch_us, 'aware'); naive datetime
    -> (epoch_us, 'naive'); ns ints compare as themselves."""
    import datetime as dt

    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        if v.tzinfo is None:
            return (int(v.value), "naive_ns")
        return (int(v.value), "aware_ns")
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            epoch = dt.datetime(1970, 1, 1)
            d = v - epoch
            return (
                ((d.days * 86400 + d.seconds) * 10**6 + d.microseconds)
                * 1000,
                "naive_ns",
            )
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        d = v - epoch
        return (
            ((d.days * 86400 + d.seconds) * 10**6 + d.microseconds)
            * 1000,
            "aware_ns",
        )
    return v


def test_temporal_decimal_types_decode_vs_pyarrow():
    """r12 seam closure (VERDICT r11 ask #4): date32/64,
    time32/time64 across all four units, timestamp s/ms/us (naive,
    UTC, fixed offset, IANA zone), timestamp ns (surfaced as integer
    epoch-nanos — Python datetime is us-bounded), and decimal128 —
    pinned against pyarrow's writer, nulls and multi-batch framing
    included."""
    import datetime as dt
    import decimal

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
                [1500, None, -1500], pa.timestamp("ms", tz="UTC")
            ).take(pa.array([0, 1, 2, 0])),
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
            "dec_neg_scale": pa.array(
                [decimal.Decimal("1.2345"), None,
                 decimal.Decimal("-9.9999"), decimal.Decimal("0")],
                pa.decimal128(20, 4),
            ),
        }
    )
    got, cols = _read_all_columns(_ipc_bytes(t, max_chunksize=3))
    for ci, name in enumerate(t.column_names):
        want = t.column(ci).to_pylist()
        have = cols[ci]
        if name == "ts_ns":
            # ours: integer epoch-nanos; pyarrow: pandas Timestamp
            have = [
                None if v is None else (int(v), "naive_ns") for v in have
            ]
            want = [_norm_temporal(v) if v is not None else None for v in want]
        else:
            have = [None if v is None else _norm_temporal(v) for v in have]
            want = [None if v is None else _norm_temporal(v) for v in want]
        assert have == want, name


def test_temporal_decimal_dictionary_encoded():
    """Dict-encoded temporal/decimal values resolve with their
    unit/scale intact (the value_spec carries the full type)."""
    import decimal

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
    _, cols = _read_all_columns(_ipc_bytes(t))
    assert cols[0] == t.column(0).to_pylist()
    assert cols[1] == t.column(1).to_pylist()


def test_temporal_decimal_encoder_roundtrip_and_pyarrow_referee():
    """Writer symmetry: encode date/time/timestamp/decimal columns
    with the from-scratch encoder, read back with BOTH pyarrow and
    our reader — value-identical."""
    import datetime as dt
    import decimal
    import io as _io

    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    fields = [
        FieldSpec("d32", True, "date32", 32),
        FieldSpec("d64", True, "date64", 64),
        FieldSpec("t32", True, "time32", 32, unit="ms"),
        FieldSpec("t64", True, "time64", 64, unit="us"),
        FieldSpec("ts", True, "timestamp", 64, unit="us"),
        FieldSpec("tsz", True, "timestamp", 64, unit="ms", tz="UTC"),
        FieldSpec("tsns", True, "timestamp", 64, unit="ns"),
        FieldSpec("dec", True, "decimal128", 128, precision=12, scale=3),
    ]
    utc = dt.timezone.utc
    cols = [
        [dt.date(2024, 2, 29), None, dt.date(1969, 12, 31)],
        [dt.date(2024, 1, 1), None, dt.date(1970, 1, 1)],
        [dt.time(1, 2, 3, 456000), None, dt.time(23, 59, 59, 999000)],
        [dt.time(0, 0, 0, 1), None, dt.time(12, 30, 0, 123456)],
        [dt.datetime(2024, 6, 1, 12, 0, 0, 250000), None,
         dt.datetime(1969, 7, 20, 20, 17, 40)],
        [dt.datetime(2024, 6, 1, 12, 0, 0, 250000, tzinfo=utc), None,
         dt.datetime(1970, 1, 1, tzinfo=utc)],
        [123456789, None, -5],
        [decimal.Decimal("1.234"), None, decimal.Decimal("-987654.321")],
    ]
    blob = encode_arrow_ipc(fields, [cols])
    ref = pa.ipc.open_file(_io.BytesIO(blob)).read_all()
    assert str(ref.schema.field("d32").type) == "date32[day]"
    assert str(ref.schema.field("tsz").type) == "timestamp[ms, tz=UTC]"
    assert str(ref.schema.field("dec").type) == "decimal128(12, 3)"
    for i, f in enumerate(fields):
        want = cols[i]
        have = ref.column(i).to_pylist()
        if f.type_name == "timestamp" and f.unit == "ns":
            have = [None if v is None else int(v.value) for v in have]
        elif f.type_name == "timestamp":
            have = [None if v is None else _norm_temporal(v) for v in have]
            want = [None if v is None else _norm_temporal(v) for v in want]
        assert have == want, f.name
    # self-twin: our reader on our writer's bytes
    _, back = _read_all_columns(blob)
    for i, f in enumerate(fields):
        w = [None if v is None else _norm_temporal(v) for v in cols[i]]
        h = [None if v is None else _norm_temporal(v) for v in back[i]]
        assert h == w, f.name


def test_decimal_scale_misfit_raises():
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )
    import decimal

    f = [FieldSpec("d", True, "decimal128", 128, precision=6, scale=2)]
    with pytest.raises(ArrowIpcFormatError, match="scale"):
        encode_arrow_ipc(f, [[[decimal.Decimal("1.234")]]])


def test_large_offset_types_decode_vs_pyarrow():
    """r12: the Large* (64-bit offset) family — large_string,
    large_binary, large_list (including large_list<struct> and
    list-of-large_string mixes) — decodes value-exact from
    pyarrow-written files.  HF-datasets exports use large_string
    pervasively, so this is the highest-traffic former seam."""
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
    got, cols = _read_all_columns(_ipc_bytes(t, max_chunksize=2))
    assert [f.type_name for f in got["fields"]] == [
        "large_utf8", "large_binary", "large_list", "large_list",
        "list",
    ]
    for ci in range(t.num_columns):
        assert cols[ci] == t.column(ci).to_pylist(), ci


def test_encoder_nested_list_struct_both_referees():
    """r12: the ENCODER nests too — List/Struct columns emit
    depth-first node/buffer flattening; pyarrow (strict verifier) and
    our own reader both recover the rows."""
    import io as _io

    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    f_int = FieldSpec("a", True, "int64", 64)
    f_str = FieldSpec("b", True, "utf8", 0)
    fields = [
        FieldSpec("flat", True, "int64", 64),
        FieldSpec("l", True, "list", 0, children=(f_int,)),
        FieldSpec("st", True, "struct", 0, children=(f_int, f_str)),
        FieldSpec(
            "ls", True, "list", 0,
            children=(
                FieldSpec(
                    "element", True, "struct", 0, children=(f_int,)
                ),
            ),
        ),
        FieldSpec(
            "ll", True, "list", 0,
            children=(
                FieldSpec("element", True, "list", 0, children=(f_int,)),
            ),
        ),
    ]
    cols = [
        [1, None, 3, 4],
        [[1, 2], [], None, [None, 5]],
        [{"a": 1, "b": "x"}, None, {"a": None, "b": "y"},
         {"a": 4, "b": None}],
        [[{"a": 1}], None, [], [{"a": None}, {"a": 3}]],
        [[[1], [2, 3]], None, [[]], [None]],
    ]
    blob = encode_arrow_ipc(fields, [cols])
    ref = pa.ipc.open_file(_io.BytesIO(blob)).read_all()
    assert ref.column("l").to_pylist() == cols[1]
    assert ref.column("st").to_pylist() == cols[2]
    assert ref.column("ls").to_pylist() == cols[3]
    assert ref.column("ll").to_pylist() == cols[4]
    _, back = _read_all_columns(blob)
    assert back == cols


def test_fixed_size_types_decode_vs_pyarrow():
    """r12: FixedSizeList (THE Arrow embedding column type — a
    fixed_size_list<float32, d> per vector) and FixedSizeBinary
    (UUIDs/digests) decode value-exact, nulls and multi-batch
    included."""
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
    got, cols = _read_all_columns(_ipc_bytes(t, max_chunksize=2))
    assert [f.type_name for f in got["fields"]] == [
        "fixed_list", "fixed_binary", "fixed_list",
    ]
    assert got["fields"][0].fixed_size == 3
    assert got["fields"][1].fixed_size == 4
    for ci in range(t.num_columns):
        assert cols[ci] == t.column(ci).to_pylist(), ci


def test_encoder_nested_bad_shapes_raise_domain_errors():
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    f_int = FieldSpec("a", True, "int64", 64)
    st = [FieldSpec("st", True, "struct", 0, children=(f_int,))]
    with pytest.raises(ArrowIpcFormatError, match="not a dict"):
        encode_arrow_ipc(st, [[[7]]])
    ls = [FieldSpec("l", True, "list", 0, children=(f_int,))]
    with pytest.raises(ArrowIpcFormatError, match="list row"):
        encode_arrow_ipc(ls, [[[{"a": 1}]]])


def test_encode_fixed_binary_pyarrow_referee_and_roundtrip():
    """ADVICE r12 (high): the encoder's fixed_binary branch was dead
    decoder code (NameError); it must emit a real FixedSizeBinary
    type table + fixed-width data buffer that pyarrow accepts and the
    own reader inverts."""
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    fs = [FieldSpec("fb", True, "fixed_binary", 0, fixed_size=4)]
    vals = [b"aaaa", None, b"\x00\x01\x02\x03"]
    data = encode_arrow_ipc(fs, [[vals]])
    t = pa.ipc.open_file(io.BytesIO(data)).read_all()
    assert t.schema.field("fb").type == pa.binary(4)
    assert t.column("fb").to_pylist() == vals
    own = read_arrow_ipc(data)
    assert own["fields"][0].type_name == "fixed_binary"
    assert own["fields"][0].fixed_size == 4
    assert own["batches"][0]["columns"][0] == vals


def test_encode_fixed_binary_wrong_width_is_domain_error():
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    fs = [FieldSpec("fb", True, "fixed_binary", 0, fixed_size=4)]
    with pytest.raises(ArrowIpcFormatError, match="FixedSizeBinary"):
        encode_arrow_ipc(fs, [[[b"toolong"]]])


def test_dictionary_encoded_fixed_binary_keeps_byte_width():
    """ADVICE r12 (high): _decode_dictionary_batch dropped fixed_size
    when rebuilding the value spec, silently decoding every dictionary
    value as b''."""
    arr = pa.array(
        [b"aaaa", b"bbbb", b"aaaa", None, b"bbbb"], type=pa.binary(4)
    ).dictionary_encode()
    out = read_arrow_ipc(_ipc_bytes(pa.table({"d": arr})))
    assert out["batches"][0]["columns"][0] == [
        b"aaaa", b"bbbb", b"aaaa", None, b"bbbb",
    ]


def test_encode_decimal128_overflow_is_domain_error():
    """ADVICE r12 (low): an unscaled value over 128 bits must raise
    the codec's named domain error, not a bare OverflowError."""
    import decimal

    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    fs = [FieldSpec("d", True, "decimal128", 0, precision=38, scale=0)]
    with pytest.raises(ArrowIpcFormatError, match="128 bits"):
        encode_arrow_ipc(fs, [[[decimal.Decimal(10) ** 40]]])


def test_duration_all_units_decode_as_exact_integers():
    """Duration (r13, VERDICT r12 ask #4): all four TimeUnits through
    the reader as EXACT integer counts (a timedelta conversion would
    silently truncate ns past microseconds)."""
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
    out = read_arrow_ipc(_ipc_bytes(t))
    assert [(f.type_name, f.unit) for f in out["fields"]] == [
        ("duration", "s"), ("duration", "ms"),
        ("duration", "us"), ("duration", "ns"),
    ]
    assert out["batches"][0]["columns"] == [
        [1, None, -5], [1000, 2000, None], [7, 8, 9],
        [123456789012345, None, -1],
    ]


def test_interval_month_day_nano_roundtrip_pyarrow_referee():
    t = pa.table(
        {
            "mdn": pa.array(
                [
                    pa.MonthDayNano([1, 2, 3_000_000_000]),
                    None,
                    pa.MonthDayNano([-1, 15, 42]),
                ],
                pa.month_day_nano_interval(),
            )
        }
    )
    out = read_arrow_ipc(_ipc_bytes(t))
    assert out["fields"][0].type_name == "interval_mdn"
    assert out["batches"][0]["columns"][0] == [
        (1, 2, 3_000_000_000), None, (-1, 15, 42),
    ]


def test_decimal256_reader_is_exact_beyond_context_precision():
    """decimal256 (r13) — and the scaleb context fix: the default
    28-digit decimal context would silently ROUND a 46-digit value."""
    import decimal

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
    out = read_arrow_ipc(_ipc_bytes(t))
    assert out["fields"][0].type_name == "decimal256"
    assert out["fields"][0].precision == 60
    assert out["batches"][0]["columns"][0][0] == big  # EXACT


def test_decimal128_full_38_digits_is_exact():
    import decimal

    big = decimal.Decimal("999999999999999999999999999999999999.38")
    t = pa.table({"d": pa.array([big], pa.decimal128(38, 2))})
    out = read_arrow_ipc(_ipc_bytes(t))
    assert out["batches"][0]["columns"][0][0] == big


def test_union_sparse_and_dense_decode():
    """Union (r13): both modes, typeIds mapping, no validity buffer
    (a slot's nullness comes from the selected child)."""
    types = pa.array([0, 1, 0, 1], pa.int8())
    sparse = pa.UnionArray.from_sparse(
        types,
        [pa.array([1, 2, 3, 4], pa.int64()),
         pa.array(["w", "x", "y", "z"], pa.string())],
    )
    out = read_arrow_ipc(_ipc_bytes(pa.table({"u": sparse})))
    assert out["fields"][0].type_name == "union"
    assert out["fields"][0].unit == "sparse"
    assert out["batches"][0]["columns"][0] == [1, "x", 3, "z"]

    dense = pa.UnionArray.from_dense(
        types,
        pa.array([0, 0, 1, 1], pa.int32()),
        [pa.array([10, None], pa.int64()),
         pa.array(["p", "q"], pa.string())],
    )
    out2 = read_arrow_ipc(_ipc_bytes(pa.table({"u": dense})))
    assert out2["fields"][0].unit == "dense"
    assert out2["batches"][0]["columns"][0] == [10, "p", None, "q"]


def test_encode_duration_interval_decimal256_pyarrow_referee():
    """r13 encoder additions: Duration / all three Interval units /
    decimal256.  pyarrow validates the full table; month_interval and
    day_time_interval values referee through the own-reader roundtrip
    (this pyarrow build cannot wrap those arrays Python-side at all),
    the rest referee value-for-value."""
    import decimal

    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    big = decimal.Decimal(
        "12345678901234567890123456789012345678901234.56"
    )
    fs = [
        FieldSpec("dn", True, "duration", 64, unit="ns"),
        FieldSpec("ym", True, "interval_ym", 32),
        FieldSpec("dt", True, "interval_dt", 64),
        FieldSpec("mdn", True, "interval_mdn", 128),
        FieldSpec("d2", True, "decimal256", 256, precision=60, scale=2),
    ]
    vals = [
        [123456789012345, None, -1],
        [12, None, -3],
        [(1, 500), None, (-2, 0)],
        [(1, 2, 3_000_000_000), None, (-1, 15, 42)],
        [big, None, decimal.Decimal("-1.01")],
    ]
    data = encode_arrow_ipc(fs, [vals])
    tt = pa.ipc.open_file(io.BytesIO(data)).read_all()
    assert tt.validate(full=True) is None
    assert [str(f.type) for f in tt.schema] == [
        "duration[ns]", "month_interval", "day_time_interval",
        "month_day_nano_interval", "decimal256(60, 2)",
    ]
    assert [
        None if v is None else (v.months, v.days, v.nanoseconds)
        for v in tt.column("mdn").to_pylist()
    ] == vals[3]
    assert tt.column("d2").to_pylist() == vals[4]
    back = read_arrow_ipc(data)
    assert back["batches"][0]["columns"] == vals


def test_stream_format_pyarrow_written_multibatch_dict_temporal():
    """read_arrow_stream (r13): the footer-less STREAM framing —
    Schema message, dictionary + record batches in stream order, EOS
    marker — over multi-batch dictionary-encoded and temporal
    columns written by pyarrow."""
    from databatchprotectionservice_spark.core.arrowipc import (
        read_arrow_stream,
    )

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
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, t.schema) as w:
        for b in t.to_batches(max_chunksize=2):
            w.write_batch(b)
    out = read_arrow_stream(buf.getvalue())
    assert len(out["batches"]) == 3
    for ci, name in enumerate(("a", "s", "ts")):
        got = [v for b in out["batches"] for v in b["columns"][ci]]
        assert got == t.column(name).to_pylist(), name


def test_stream_format_encode_and_framing_errors():
    """encode_arrow_stream referees through pyarrow's open_stream;
    a clean EOF at a message boundary without the EOS marker is
    accepted, truncation and post-EOS bytes are domain errors."""
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_stream,
        read_arrow_stream,
    )

    fs = [
        FieldSpec("a", True, "int64", 64),
        FieldSpec("s", True, "utf8", 0),
    ]
    vals1 = [[1, None, 3], ["p", "q", None]]
    vals2 = [[4], ["r"]]
    data = encode_arrow_stream(fs, [vals1, vals2])
    rt = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    assert rt.column("a").to_pylist() == [1, None, 3, 4]
    assert rt.column("s").to_pylist() == ["p", "q", None, "r"]
    own = read_arrow_stream(data)
    assert own["batches"][0]["columns"] == vals1
    assert own["batches"][1]["columns"] == vals2
    # EOF-without-EOS tolerated (the spec allows it)
    assert read_arrow_stream(data[:-8])["batches"][1]["columns"] == vals2
    with pytest.raises(ArrowIpcFormatError):
        read_arrow_stream(data[: len(data) // 2 + 3])
    with pytest.raises(ArrowIpcFormatError, match="after the"):
        read_arrow_stream(data + b"junk")
    with pytest.raises(ArrowIpcFormatError, match="Schema"):
        # strip the Schema message: the stream now opens with a
        # RecordBatch (schema-only stream = schema msg + EOS marker)
        schema_len = len(encode_arrow_stream(fs, [])) - 8
        read_arrow_stream(data[schema_len:])


def test_union_encoder_both_modes_pyarrow_referee():
    """Union ENCODE (r13): slots are (type_id, value) tuples; dense
    packs compact children behind an offsets buffer, sparse pads
    every child to batch length.  Custom (non-contiguous) typeIds are
    pinned; pyarrow full-validates and reads both."""
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    kids = (
        FieldSpec("num", True, "int64", 64),
        FieldSpec("txt", True, "utf8", 0),
    )
    vals = [(5, 1), (9, "a"), (5, None), (9, "b"), (5, 7)]
    for mode in ("dense", "sparse"):
        u = FieldSpec(
            "u", False, "union", 0, children=kids, unit=mode,
            type_ids=(5, 9),
        )
        data = encode_arrow_ipc([u], [[vals]])
        tt = pa.ipc.open_file(io.BytesIO(data)).read_all()
        assert tt.validate(full=True) is None
        assert str(tt.schema.field("u").type).startswith(
            f"{mode}_union"
        )
        assert tt.column("u").to_pylist() == [1, "a", None, "b", 7]
        own = read_arrow_ipc(data)
        assert own["batches"][0]["columns"][0] == [1, "a", None, "b", 7]
    bad = FieldSpec(
        "u", False, "union", 0, children=kids, unit="dense",
        type_ids=(0, 1),
    )
    with pytest.raises(ArrowIpcFormatError, match="type_id"):
        encode_arrow_ipc([bad], [[[(7, 3)]]])


def test_stream_mutation_battery():
    """The file-format battery's twin over the STREAM framing: every
    corruption either decodes value-exact (landed in padding) or
    raises the domain error — never a crash, hang or silent wrong
    answer."""
    from databatchprotectionservice_spark.core.arrowipc import (
        read_arrow_stream,
    )

    def sbytes(t, chunk=None):
        buf = io.BytesIO()
        with pa.ipc.new_stream(buf, t.schema) as w:
            if chunk is None:
                w.write_table(t)
            else:
                for b in t.to_batches(max_chunksize=chunk):
                    w.write_batch(b)
        return buf.getvalue()

    view_t = pa.table(
        {
            "v": pa.array(
                ["short", None, "a string well beyond twelve bytes"],
                pa.string_view(),
            )
        }
    )
    bases = [
        bytearray(sbytes(_FULL)),
        bytearray(sbytes(_FULL, chunk=2)),
        bytearray(sbytes(view_t)),
    ]
    want = [
        [_FULL.column(i).to_pylist() for i in range(_FULL.num_columns)],
        [_FULL.column(i).to_pylist() for i in range(_FULL.num_columns)],
        [view_t.column(0).to_pylist()],
    ]

    def cols(out):
        nf = len(out["fields"])
        return [
            [v for b in out["batches"] for v in b["columns"][i]]
            for i in range(nf)
        ]

    random.seed(43)
    survived = 0
    for _ in range(2000):
        ix = random.randrange(len(bases))
        b = bytearray(bases[ix])
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
                    random.randrange(256)
                    for _ in range(random.randint(1, 8))
                )
        try:
            out = read_arrow_stream(bytes(b))
            if cols(out) == want[ix]:
                survived += 1
        except ArrowIpcFormatError:
            pass
    assert survived < 2000


def test_encoder_dictionary_encoding_both_framings():
    """Dictionary ENCODE (r13): a FieldSpec with dict_id/index_type
    set builds its value dictionary across all batches (first-seen
    order), emits DictionaryBatch messages before the record batches
    (file footer dictionaries blocks / stream inline), and record
    batches carry indices.  pyarrow full-validates; the own reader
    resolves; temporal dictionary values keep their unit."""
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
        encode_arrow_stream,
        read_arrow_stream,
    )

    fs = [
        FieldSpec("cat", True, "utf8", 0, dict_id=0, index_type="int8"),
        FieldSpec(
            "qty", True, "int64", 64, dict_id=7, index_type="int32"
        ),
        FieldSpec("plain", True, "int64", 64),
    ]
    b1 = [["a", "b", None, "a", "c"], [10, 10, 20, None, 10],
          [1, 2, 3, 4, 5]]
    b2 = [["c", "a"], [30, 20], [6, None]]
    want = [b1[i] + b2[i] for i in range(3)]

    data = encode_arrow_ipc(fs, [b1, b2])
    tt = pa.ipc.open_file(io.BytesIO(data)).read_all()
    assert tt.validate(full=True) is None
    assert str(tt.schema.field("cat").type) == (
        "dictionary<values=string, indices=int8, ordered=0>"
    )
    for ci, n in enumerate(("cat", "qty", "plain")):
        assert tt.column(n).to_pylist() == want[ci], n
    own = read_arrow_ipc(data)
    got = [
        [v for b in own["batches"] for v in b["columns"][i]]
        for i in range(3)
    ]
    assert got == want

    sdata = encode_arrow_stream(fs, [b1, b2])
    rt = pa.ipc.open_stream(io.BytesIO(sdata)).read_all()
    assert rt.column("cat").to_pylist() == want[0]
    owns = read_arrow_stream(sdata)
    gots = [
        [v for b in owns["batches"] for v in b["columns"][i]]
        for i in range(3)
    ]
    assert gots == want

    import datetime as dt

    fs2 = [
        FieldSpec("d", True, "date32", 32, dict_id=1, index_type="int16")
    ]
    days = [dt.date(2020, 1, 1), None, dt.date(2021, 5, 5),
            dt.date(2020, 1, 1)]
    d2 = encode_arrow_ipc(fs2, [[days]])
    t2 = pa.ipc.open_file(io.BytesIO(d2)).read_all()
    assert t2.column("d").to_pylist() == days
    assert read_arrow_ipc(d2)["batches"][0]["columns"][0] == days


def test_encode_view_types_pyarrow_referee():
    """r14: Utf8View/BinaryView (variadic data buffers), ListView/
    LargeListView (offsets+sizes) and RunEndEncoded ((run_ends,
    values) children) ENCODE — pyarrow strict-reads our bytes and our
    reader closes the loop, batch lengths crossing the 12-byte inline
    threshold both ways."""
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    long = "x" * 40
    sv = ["short", None, long, "tiny", "y" * 13, "", None]
    bv = [b"ab", None, b"z" * 25, b"", b"q" * 12, b"w" * 13, b"k"]
    ree = [5, 5, None, None, 7, 7, 7]
    lv = [[1, 2, 3], None, [], [4], [5, 6], None, [7, 8, 9, 10]]
    fields = [
        FieldSpec("sv", True, "utf8_view", 0),
        FieldSpec("bv", True, "binary_view", 0),
        FieldSpec("ree", True, "run_end_encoded", 0, children=(
            FieldSpec("run_ends", False, "int32", 32),
            FieldSpec("values", True, "int64", 64),
        )),
        FieldSpec("lv", True, "list_view", 0, children=(
            FieldSpec("item", True, "int64", 64),
        )),
        FieldSpec("llv", True, "large_list_view", 0, children=(
            FieldSpec("item", True, "int64", 64),
        )),
    ]
    cols = [sv, bv, ree, lv, lv]
    data = encode_arrow_ipc(fields, [cols])
    t = pa.ipc.open_file(io.BytesIO(data)).read_all()
    assert str(t.schema.field("sv").type) == "string_view"
    assert str(t.schema.field("ree").type).startswith("run_end_encoded")
    assert t.column("sv").to_pylist() == sv
    assert t.column("bv").to_pylist() == bv
    assert t.column("ree").to_pylist() == ree
    assert t.column("lv").to_pylist() == lv
    assert t.column("llv").to_pylist() == lv
    got = read_arrow_ipc(data)
    for ci, expect in enumerate(cols):
        dec = [v for b_ in got["batches"] for v in b_["columns"][ci]]
        assert dec == expect, ci


def test_encode_view_types_multibatch_stream_and_edges():
    """Views across MULTIPLE batches (one variadicBufferCounts entry
    per batch), the all-inline batch (no >12-byte value), the
    single-run and all-null REE columns, and the empty batch."""
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_stream,
        read_arrow_stream,
    )

    fields = [
        FieldSpec("sv", True, "utf8_view", 0),
        FieldSpec("ree", True, "run_end_encoded", 0, children=(
            FieldSpec("run_ends", False, "int32", 32),
            FieldSpec("values", True, "utf8", 0),
        )),
    ]
    batches = [
        [["inline", "also-inline", None], ["a", "a", "a"]],     # no long
        [["L" * 30, "m", "N" * 13], [None, None, None]],        # long+all-null
        [[], []],                                               # empty batch
    ]
    data = encode_arrow_stream(fields, batches)
    t = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    assert t.column("sv").to_pylist() == [
        v for b_ in batches for v in b_[0]
    ]
    assert t.column("ree").to_pylist() == [
        v for b_ in batches for v in b_[1]
    ]
    got = read_arrow_stream(data)
    assert [v for b_ in got["batches"] for v in b_["columns"][0]] == [
        v for b_ in batches for v in b_[0]
    ]


def test_encode_map_pyarrow_referee():
    """r14: Map ENCODES through the List<entries-struct> layout —
    null map / empty map / duplicate keys / null values, pyarrow
    strict read + own reader."""
    from databatchprotectionservice_spark.core.arrowipc import (
        FieldSpec,
        encode_arrow_ipc,
    )

    maps = [
        [("a", 1), ("b", None)],
        None,
        [],
        [("dup", 2), ("dup", 3)],
        [("z", 9)],
    ]
    fields = [
        FieldSpec("m", True, "map", 0, children=(
            FieldSpec("entries", False, "struct", 0, children=(
                FieldSpec("key", False, "utf8", 0),
                FieldSpec("value", True, "int64", 64),
            )),
        )),
    ]
    data = encode_arrow_ipc(fields, [[maps]])
    t = pa.ipc.open_file(io.BytesIO(data)).read_all()
    assert str(t.schema.field("m").type) == "map<string, int64>"
    assert t.column("m").to_pylist() == [
        None if m is None else list(m) for m in maps
    ]
    assert read_arrow_ipc(data)["batches"][0]["columns"][0] == maps
    with pytest.raises(DBPSInvalidInputError):
        encode_arrow_ipc(fields, [[[[("k", 1), (None, 2)]]]])  # null key


# -- r14: encoder-side BodyCompression ---------------------------------


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
@pytest.mark.parametrize("framing", ["file", "stream"])
def test_encoder_compressed_bodies_both_referees(codec, framing):
    """Our compressing encoder -> pyarrow AND our own reader.  Covers
    nullable ints, strings (offsets + data buffers), floats; multiple
    batches; and verifies the blob actually shrank."""
    from databatchprotectionservice_spark.core.arrowipc import (
        encode_arrow_stream,
        read_arrow_stream,
    )

    fields = [
        FieldSpec("i", True, "int64", 64),
        FieldSpec("s", True, "utf8", 0),
        FieldSpec("f", False, "float64", 64),
    ]
    batches = [
        [
            [1, 2, None, 4] * 64,
            ["abc", "de", None, "x" * 48] * 64,
            [0.5, 1.25, 2.0, 3.75] * 64,
        ],
        [[9, 8, 7], ["zz", "yy", None], [1.0, 2.0, 3.0]],
    ]
    if framing == "file":
        blob = encode_arrow_ipc(fields, batches, compression=codec)
        plain = encode_arrow_ipc(fields, batches)
        t = pa.ipc.open_file(io.BytesIO(blob)).read_all()
        ours = read_arrow_ipc(blob)
    else:
        blob = encode_arrow_stream(fields, batches, compression=codec)
        plain = encode_arrow_stream(fields, batches)
        t = pa.ipc.open_stream(io.BytesIO(blob)).read_all()
        ours = read_arrow_stream(blob)
    assert len(blob) < len(plain)  # repetitive data must shrink
    t.validate(full=True)
    assert t.num_rows == 259
    want = [
        batches[0][i] + batches[1][i] for i in range(len(fields))
    ]
    assert [t.column(i).to_pylist() for i in range(3)] == want
    got = [[], [], []]
    for bt in ours["batches"]:
        for i, col in enumerate(bt["columns"]):
            got[i].extend(col)
    assert got == want


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
def test_encoder_compressed_dictionary_batches(codec):
    """DictionaryBatch bodies compress too; pyarrow resolves the
    dictionary through the compressed body."""
    fields = [
        FieldSpec("d", True, "utf8", 0, dict_id=0, index_type="int32"),
    ]
    col = (["alpha" * 20, "beta" * 20, None, "alpha" * 20] * 32)
    blob = encode_arrow_ipc(fields, [[col]], compression=codec)
    t = pa.ipc.open_file(io.BytesIO(blob)).read_all()
    t.validate(full=True)
    assert t.column("d").to_pylist() == col
    assert read_arrow_ipc(blob)["batches"][0]["columns"][0] == col


def test_encoder_compression_stored_raw_escape():
    """Incompressible buffers take the -1 stored-raw escape and still
    read back exactly (both referees)."""
    import os as _os

    rnd = _os.urandom(4096)  # incompressible
    vals = [rnd[i: i + 16] for i in range(0, 4096, 16)]
    fields = [FieldSpec("raw", False, "binary", 0)]
    blob = encode_arrow_ipc(fields, [[vals]], compression="lz4")
    t = pa.ipc.open_file(io.BytesIO(blob)).read_all()
    assert t.column("raw").to_pylist() == vals
    assert read_arrow_ipc(blob)["batches"][0]["columns"][0] == vals


def test_encoder_compression_empty_and_unknown():
    """Zero-length buffers are stored bare (no length prefix), per the
    reader's own convention; an unknown codec name raises the domain
    error before any encoding happens."""
    fields = [FieldSpec("i", True, "int64", 64)]
    blob = encode_arrow_ipc(fields, [[[]]], compression="zstd")
    t = pa.ipc.open_file(io.BytesIO(blob)).read_all()
    assert t.num_rows == 0
    assert read_arrow_ipc(blob)["batches"][0]["columns"][0] == []
    with pytest.raises(DBPSInvalidInputError):
        encode_arrow_ipc(fields, [[[1]]], compression="snappy")


def test_encoder_compression_corruptions_raise():
    """Corruptions of OUR compressed output fail loudly in our
    reader: a truncated compressed buffer, a lying uncompressed
    length, and an unknown BodyCompression codec id."""
    import struct as _struct

    fields = [FieldSpec("i", False, "int64", 64)]
    batches = [[list(range(512))]]
    blob = encode_arrow_ipc(fields, batches, compression="zstd")
    ok = read_arrow_ipc(blob)
    assert ok["batches"][0]["columns"][0] == list(range(512))

    # find the data buffer's 8-byte length prefix inside the body and
    # lie about the uncompressed length
    want = _struct.pack("<q", 512 * 8)
    at = blob.find(want)
    assert at > 0
    lied = blob[:at] + _struct.pack("<q", 512 * 8 + 8) + blob[at + 8:]
    with pytest.raises(DBPSInvalidInputError):
        read_arrow_ipc(lied)

    # truncate inside the compressed frame (zero-fill keeps framing)
    cut = bytearray(blob)
    for i in range(at + 16, at + 48):
        cut[i] = 0
    with pytest.raises(DBPSInvalidInputError):
        read_arrow_ipc(bytes(cut))


@pytest.mark.parametrize("shape", ["empty", "two_frames", "content_checksum"])
def test_hostile_lz4_buffers_raise(shape, monkeypatch):
    """Each lz4 buffer must be exactly one frame that decodes to its
    declared length, with liblz4's checksums verified.  The encoder
    lays the hostile regions out; the reader must refuse each."""
    import struct

    from databatchprotectionservice_spark.core import arrowipc

    from .lz4frames import lz4_frame

    def hostile(raw: bytes, compression: str) -> bytes:
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
        return struct.pack("<q", len(raw)) + bytes(frame)

    fields = [FieldSpec("i", False, "int64", 64)]
    vals = list(range(64)) * 4
    assert read_arrow_ipc(
        encode_arrow_ipc(fields, [[vals]], compression="lz4")
    )["batches"][0]["columns"][0] == vals
    monkeypatch.setattr(arrowipc, "_compress_body_buffer", hostile)
    blob = encode_arrow_ipc(fields, [[vals]], compression="lz4")
    with pytest.raises(ArrowIpcFormatError, match="lz4 buffer"):
        read_arrow_ipc(blob)
