"""Parquet column reader (core/parquetread.py).

Referee: pyarrow's own reader, column-for-column, across a matrix of
codecs x page versions x dictionary on/off x physical types (bools,
ints, floats, strings with nulls, binary, fixed-len via decimal) —
and the real testdata files.  The hybrid-run decoder is additionally
pinned by hand-assembled RLE/bit-packed streams, and the mutation
battery covers the whole read path (footer + pages + values).
"""

import decimal
import io
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from databatchprotectionservice_spark.core.errors import (
    DBPSInvalidInputError,
)
from databatchprotectionservice_spark.core.parquetmeta import parse_footer
from databatchprotectionservice_spark.core.parquetread import (
    ParquetReadError,
    _hybrid_decode,
    leaf_elements,
    leaf_paths,
    read_column,
)


def test_hand_assembled_hybrid_runs():
    # RLE run: header 6 (3 << 1), value 5 (bit width 3 -> 1 byte)
    vals, off = _hybrid_decode(bytes([6, 5]), 0, 3, 3)
    assert vals.tolist() == [5, 5, 5] and off == 2
    # bit-packed: header 3 (1 group << 1 | 1), width 1: byte 0b01010101
    vals, off = _hybrid_decode(bytes([3, 0b01010101]), 0, 1, 8)
    assert vals.tolist() == [1, 0, 1, 0, 1, 0, 1, 0]
    # width 0 consumes nothing
    vals, off = _hybrid_decode(b"", 0, 0, 4)
    assert vals.tolist() == [0, 0, 0, 0] and off == 0
    with pytest.raises(ParquetReadError, match="truncated"):
        _hybrid_decode(bytes([6]), 0, 3, 3)


def _table(n=3000):
    rng = random.Random(23)
    return pa.table(
        {
            "i32": pa.array(
                [None if i % 17 == 16 else i - 1500 for i in range(n)],
                pa.int32(),
            ),
            "i64": pa.array(range(n), pa.int64()),
            "f32": pa.array(
                [rng.random() for _ in range(n)], pa.float32()
            ),
            "f64": pa.array(
                [None if i % 23 == 22 else rng.random() * 1e6
                 for i in range(n)],
                pa.float64(),
            ),
            "s": pa.array(
                [None if i % 11 == 10 else f"value {i} é汉"
                 for i in range(n)]
            ),
            "b": pa.array(
                [bytes([i & 0xFF, (i * 3) & 0xFF]) for i in range(n)],
                pa.binary(),
            ),
            "flag": pa.array([i % 3 == 0 for i in range(n)]),
            "dec": pa.array(
                [decimal.Decimal(i) / 100 for i in range(n)],
                pa.decimal128(18, 2),
            ),
        }
    )


def _check_file(data: bytes, ref: pa.Table):
    meta = parse_footer(data)
    leaves = [el for el, _ in leaf_elements(meta["schema"])]
    for rg_i, rg in enumerate(meta["row_groups"]):
        start = sum(g["num_rows"] for g in meta["row_groups"][:rg_i])
        for ci, col in enumerate(rg["columns"]):
            got = read_column(data, col, leaves[ci])
            want = ref.column(ci).to_pylist()[
                start : start + rg["num_rows"]
            ]
            name = ref.column_names[ci]
            if name == "s":
                got = [None if v is None else v.decode() for v in got]
            elif name == "dec":  # FLBA big-endian unscaled int
                got = [
                    None
                    if v is None
                    else decimal.Decimal(
                        int.from_bytes(v, "big", signed=True)
                    ) / 100
                    for v in got
                ]
            assert got == want, (name, rg_i, got[:3], want[:3])


@pytest.mark.parametrize(
    "codec,version,use_dict",
    [
        ("none", "1.0", False),
        ("none", "1.0", True),
        ("snappy", "1.0", True),
        ("gzip", "1.0", False),
        ("snappy", "2.0", True),
        ("none", "2.0", False),
    ],
)
def test_matrix_matches_pyarrow(codec, version, use_dict):
    t = _table()
    buf = io.BytesIO()
    pq.write_table(
        t,
        buf,
        compression=codec,
        row_group_size=1100,
        data_page_size=4096,
        data_page_version=version,
        use_dictionary=use_dict,
    )
    _check_file(buf.getvalue(), t)


@pytest.mark.parametrize(
    "name", ["documents", "customer", "lineitem", "events", "embeddings"]
)
def test_real_testdata_columns(name):
    path = f"/root/testdata/sf0.001/{name}.parquet"
    data = open(path, "rb").read()
    meta = parse_footer(data)
    leaves = leaf_elements(meta["schema"])
    paths = leaf_paths(meta["schema"])
    ref = pq.read_table(path)
    for ci, col in enumerate(meta["row_groups"][0]["columns"]):
        leaf, nested = leaves[ci]
        if nested:
            # REPEATED columns decode via the Dremel assembly path
            # (tests/test_parquet_nested.py has the full matrix);
            # here just pin the real file's nested column too
            _, lpath = paths[ci]
            got = read_column(data, col, leaf, path=lpath)[
                : meta["row_groups"][0]["num_rows"]
            ]
            want = ref.column(ci).to_pylist()[
                : meta["row_groups"][0]["num_rows"]
            ]
            assert got == want, leaf["name"]
            continue
        got = read_column(data, col, leaf)
        want = ref.column(ci).to_pylist()[
            : meta["row_groups"][0]["num_rows"]
        ]
        if want and isinstance(want[0], str):
            got = [None if v is None else v.decode() for v in got]
        if leaf["type"] == "INT96" or str(
            ref.schema.field(ci).type
        ).startswith("timestamp"):
            continue  # timestamp logical mapping is pyarrow-side
        assert got == want, leaf["name"]


def test_missing_dictionary_raises():
    t = pa.table({"v": pa.array(range(100), pa.int64())})
    buf = io.BytesIO()
    pq.write_table(t, buf, use_dictionary=True)
    data = bytearray(buf.getvalue())
    meta = parse_footer(bytes(data))
    col = dict(meta["row_groups"][0]["columns"][0])
    # pretend the chunk starts at the data page (skip the dictionary)
    col["dictionary_page_offset"] = None
    first_data_off = col["data_page_offset"]
    col["total_compressed_size"] -= first_data_off - meta[
        "row_groups"
    ][0]["columns"][0]["dictionary_page_offset"]
    with pytest.raises(ParquetReadError, match="without a dictionary"):
        read_column(bytes(data), col, meta["schema"][1])


def test_mutation_battery():
    buf = io.BytesIO()
    pq.write_table(_table(400), buf, row_group_size=200)
    wire = buf.getvalue()
    rng = random.Random(131)
    for _ in range(1500):
        b = bytearray(wire)
        for _ in range(rng.randint(1, 6)):
            op = rng.randrange(3)
            if op == 0 and b:
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            elif op == 1 and len(b) > 1:
                del b[rng.randrange(len(b) - 1):]
            else:
                b.insert(rng.randrange(len(b) + 1), rng.randrange(256))
        try:
            meta = parse_footer(bytes(b))
            for rg in meta["row_groups"]:
                for ci, col in enumerate(rg["columns"]):
                    read_column(bytes(b), col, meta["schema"][1 + ci])
        except DBPSInvalidInputError:
            continue
        except (MemoryError, OverflowError, KeyError, IndexError,
                TypeError, AttributeError, ValueError) as e:
            import pytest as _pt

            _pt.fail(
                f"non-domain error escaped: {type(e).__name__} {e}"
            )


@pytest.mark.parametrize("codec", ["LZ4_RAW", "LZ4"])
def test_over_declared_lz4_pages_raise(codec):
    """liblz4 leaves an over-declared page short (pyarrow zero-pads
    it); the page inflate must refuse it, for LZ4_RAW pages and for
    hadoop-LZ4 chunks whose own header over-declares."""
    from databatchprotectionservice_spark.core.parquetmeta import walk_pages
    from databatchprotectionservice_spark.core.parquetread import _inflate
    from databatchprotectionservice_spark.core.parquetwrite import (
        write_parquet,
    )
    from databatchprotectionservice_spark.core.types import CompressionCodec

    vals = list(range(3000))
    blob = write_parquet({"k": vals}, {"k": "INT64"}, codec=codec)
    meta = parse_footer(blob)
    col = meta["row_groups"][0]["columns"][0]
    leaf = leaf_elements(meta["schema"])[0][0]
    assert read_column(blob, col, leaf) == vals
    for page in walk_pages(blob, col):
        at = page["data_offset"]
        body = blob[at : at + page["compressed_page_size"]]
        size = page["uncompressed_page_size"]
        if codec == "LZ4":  # the chunk header declares 64 bytes more
            want = int.from_bytes(body[:4], "big") + 64
            body = want.to_bytes(4, "big") + body[4:]
        with pytest.raises(ParquetReadError):
            _inflate(body, CompressionCodec[codec], size + 64)
