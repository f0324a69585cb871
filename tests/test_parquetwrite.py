"""Parquet writer (core/parquetwrite.py).

Four independent referees must read our files: pyarrow, DuckDB,
Spark, and our own reader — across codecs, null patterns, and every
supported type.
"""

import io
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from databatchprotectionservice_spark.core.parquetmeta import parse_footer
from databatchprotectionservice_spark.core.parquetread import (
    leaf_elements,
    read_column,
    read_record_field,
)
from databatchprotectionservice_spark.core.parquetwrite import (
    ParquetWriteError,
    write_parquet,
)

_COLS = {
    "id": list(range(500)),
    "small": [(-1) ** i * i for i in range(500)],
    "name": [None if i % 7 == 6 else f"n{i} é汉" for i in range(500)],
    "blob": [bytes([i & 0xFF, 255 - (i & 0xFF)]) for i in range(500)],
    "score": [None if i % 13 == 12 else i / 3 for i in range(500)],
    "ratio": [float(i) / 7 for i in range(500)],
    "flag": [i % 3 == 0 for i in range(500)],
}
_TYPES = {
    "id": "INT64",
    "small": "INT32",
    "name": "STRING",
    "blob": "BYTE_ARRAY",
    "score": "DOUBLE",
    "ratio": "FLOAT",
    "flag": "BOOLEAN",
}


def _expected(name):
    vals = _COLS[name]
    if name == "ratio":  # FLOAT quantizes to float32
        import struct as _s

        return [_s.unpack("<f", _s.pack("<f", v))[0] for v in vals]
    return vals


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "SNAPPY"])
def test_pyarrow_and_duckdb_and_own_reader(codec, tmp_path):
    data = write_parquet(_COLS, _TYPES, codec=codec)
    # pyarrow
    t = pq.read_table(io.BytesIO(data))
    for name in _COLS:
        assert t.column(name).to_pylist() == _expected(name), name
    # duckdb
    path = str(tmp_path / "w.parquet")
    with open(path, "wb") as f:
        f.write(data)
    n, sid, nn = duckdb.sql(
        f"SELECT count(*), sum(id), count(name) "
        f"FROM read_parquet('{path}')"
    ).fetchall()[0]
    assert (n, sid) == (500, sum(_COLS["id"]))
    assert nn == sum(1 for v in _COLS["name"] if v is not None)
    # our own reader
    meta = parse_footer(data)
    leaves = leaf_elements(meta["schema"])
    for ci, name in enumerate(_COLS):
        got = read_column(
            data, meta["row_groups"][0]["columns"][ci], leaves[ci][0]
        )
        if name == "name":
            got = [None if v is None else v.decode() for v in got]
        assert got == _expected(name), name
    # and the codec really took effect
    assert meta["row_groups"][0]["columns"][0]["codec"] == codec


def test_spark_reads_our_file(spark, tmp_path):
    data = write_parquet(_COLS, _TYPES, codec="SNAPPY")
    path = str(tmp_path / "spark_read.parquet")
    with open(path, "wb") as f:
        f.write(data)
    df = spark.read.parquet(path)
    assert df.count() == 500
    row = df.selectExpr(
        "sum(id) AS s", "count(name) AS n", "sum(CAST(flag AS INT)) AS f"
    ).collect()[0]
    assert row["s"] == sum(_COLS["id"])
    assert row["n"] == sum(1 for v in _COLS["name"] if v is not None)
    assert row["f"] == sum(1 for v in _COLS["flag"] if v)
    got = [
        r["name"]
        for r in df.orderBy("id").select("name").collect()
    ]
    assert got == _COLS["name"]


def test_all_null_and_empty_edge():
    data = write_parquet(
        {"x": [None, None, None], "y": [1, 2, 3]},
        {"x": "STRING", "y": "INT64"},
    )
    t = pq.read_table(io.BytesIO(data))
    assert t.column("x").to_pylist() == [None, None, None]
    assert t.column("y").to_pylist() == [1, 2, 3]
    # nullable booleans: bit-packing covers present values only, the
    # def levels restore the gaps
    vals = [True, None, False, None, True, True, None, False, True]
    data = write_parquet({"b": vals}, {"b": "BOOLEAN"}, codec="SNAPPY")
    assert pq.read_table(io.BytesIO(data)).column(
        "b"
    ).to_pylist() == vals


def test_multi_page_layout(tmp_path):
    """page_rows chunks every column into multiple V1 pages; all
    readers and the page walk agree."""
    from databatchprotectionservice_spark.core.parquetmeta import (
        walk_pages,
    )

    cols = {
        "id": list(range(1000)),
        "name": [None if i % 9 == 8 else f"x{i}" for i in range(1000)],
    }
    types = {"id": "INT64", "name": "STRING"}
    for codec in ("UNCOMPRESSED", "SNAPPY"):
        data = write_parquet(cols, types, codec=codec, page_rows=150)
        meta = parse_footer(data)
        for col in meta["row_groups"][0]["columns"]:
            assert len(walk_pages(data, col)) == 7  # ceil(1000/150)
        t = pq.read_table(io.BytesIO(data))
        assert t.column("id").to_pylist() == cols["id"]
        assert t.column("name").to_pylist() == cols["name"]
        leaves = leaf_elements(meta["schema"])
        got = read_column(
            data, meta["row_groups"][0]["columns"][1], leaves[1][0]
        )
        assert [
            None if v is None else v.decode() for v in got
        ] == cols["name"]


def test_errors():
    with pytest.raises(ParquetWriteError, match="disagree"):
        write_parquet({"a": [1], "b": []}, {"a": "INT64", "b": "INT64"})
    with pytest.raises(ParquetWriteError, match="bad type"):
        write_parquet({"a": [1]}, {"a": "INT128"})
    with pytest.raises(ParquetWriteError, match="seam"):
        write_parquet({"a": [1]}, {"a": "INT64"}, codec="LZO")
    with pytest.raises(ParquetWriteError, match="no columns"):
        write_parquet({}, {})
    with pytest.raises(ParquetWriteError, match="page_rows"):
        write_parquet({"a": [1]}, {"a": "INT64"}, page_rows=0)


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "SNAPPY"])
@pytest.mark.parametrize("page_rows", [None, 2])
def test_list_columns_three_referees(codec, page_rows, tmp_path):
    """The r11 LIST<T> write path: the standard 3-level layout with
    striped rep/def runs (inverse Dremel), recovered identically by
    pyarrow, DuckDB and our own reader — null lists, empty lists,
    null elements, multi-page record-aligned chunks."""
    import duckdb

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        leaf_paths,
        read_column,
    )

    cols = {
        "id": [1, 2, 3, 4, 5],
        "v": [[1, 2, 3], [], None, [None, 5], [6]],
        "s": [["x", "yy"], None, [], ["z", None], ["w"]],
    }
    types = {"id": "INT64", "v": "LIST<INT64>", "s": "LIST<STRING>"}
    data = write_parquet(cols, types, codec=codec, page_rows=page_rows)

    t = pq.ParquetFile(io.BytesIO(data)).read()
    for name in cols:
        assert t.column(name).to_pylist() == cols[name], name

    p = tmp_path / "lists.parquet"
    p.write_bytes(data)
    rows = duckdb.connect().execute(
        f"SELECT id, v, s FROM '{p}' ORDER BY id"
    ).fetchall()
    assert rows == [
        (1, [1, 2, 3], ["x", "yy"]),
        (2, [], None),
        (3, None, []),
        (4, [None, 5], ["z", None]),
        (5, [6], ["w"]),
    ]

    meta = parse_footer(data)
    paths = leaf_paths(meta["schema"])
    for ci, name in enumerate(cols):
        leaf, path = paths[ci]
        got = []
        for rg in meta["row_groups"]:
            got.extend(
                read_column(data, rg["columns"][ci], leaf, path=path)
            )
        if name == "s":
            got = [
                None if r is None
                else [None if e is None else e.decode() for e in r]
                for r in got
            ]
        assert got == cols[name], name


def test_list_write_rejects_non_list_rows():
    with pytest.raises(ParquetWriteError, match="not a list"):
        write_parquet({"v": [7]}, {"v": "LIST<INT64>"})


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "SNAPPY"])
@pytest.mark.parametrize("page_rows", [None, 2])
def test_struct_columns_three_referees(codec, page_rows, tmp_path):
    """The r12 STRUCT write path (VERDICT r11 ask #5): optional group
    of optional primitive leaves, one chunk per leaf with def-level
    striping — recovered identically by pyarrow, DuckDB, and our own
    record assembly (null structs, null fields, multi-page)."""
    import duckdb

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        read_record_field,
    )

    cols = {
        "id": [1, 2, 3, 4, 5],
        "st": [
            {"a": 10, "b": "x"},
            None,
            {"a": None, "b": "y"},
            {"a": 40, "b": None},
            {"a": 50, "b": "z"},
        ],
    }
    types = {"id": "INT64", "st": "STRUCT<a:INT64,b:STRING>"}
    data = write_parquet(cols, types, codec=codec, page_rows=page_rows)

    t = pq.ParquetFile(io.BytesIO(data)).read()
    assert t.column("id").to_pylist() == cols["id"]
    assert t.column("st").to_pylist() == cols["st"]

    p = tmp_path / "structs.parquet"
    p.write_bytes(data)
    rows = duckdb.connect().execute(
        f"SELECT id, st.a, st.b, st IS NULL FROM '{p}' ORDER BY id"
    ).fetchall()
    assert rows == [
        (1, 10, "x", False),
        (2, None, None, True),
        (3, None, "y", False),
        (4, 40, None, False),
        (5, 50, "z", False),
    ]

    meta = parse_footer(data)
    assert read_record_field(data, meta, 0) == cols["id"]
    got = read_record_field(data, meta, 1)
    # our reader surfaces BYTE_ARRAY as bytes (str is a presentation
    # concern) — normalize like the sibling referee tests
    got = [
        None
        if r is None
        else {
            "a": r["a"],
            "b": r["b"].decode() if isinstance(r["b"], bytes) else r["b"],
        }
        for r in got
    ]
    assert got == cols["st"]


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "SNAPPY"])
@pytest.mark.parametrize("page_rows", [None, 2])
def test_list_struct_columns_three_referees(codec, page_rows, tmp_path):
    """The r12 LIST<STRUCT> write path: standard 3-level layout whose
    element is an optional group (max_def 4, max_rep 1) — null lists,
    empty lists, null elements, null fields, record-aligned pages —
    all three referees recover the rows."""
    import duckdb

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        read_record_field,
    )

    cols = {
        "id": [1, 2, 3, 4, 5, 6],
        "ls": [
            [{"a": 1, "b": "x"}, {"a": 2, "b": None}],
            None,
            [],
            [None],
            [{"a": None, "b": "y"}, None, {"a": 5, "b": "z"}],
            [{"a": 6, "b": "w"}],
        ],
    }
    types = {"id": "INT64", "ls": "LIST<STRUCT<a:INT64,b:STRING>>"}
    data = write_parquet(cols, types, codec=codec, page_rows=page_rows)

    t = pq.ParquetFile(io.BytesIO(data)).read()
    assert t.column("id").to_pylist() == cols["id"]
    assert t.column("ls").to_pylist() == cols["ls"]

    p = tmp_path / "ls.parquet"
    p.write_bytes(data)
    rows = duckdb.connect().execute(
        f"SELECT id, ls FROM '{p}' ORDER BY id"
    ).fetchall()
    assert [r[1] for r in rows] == [
        [{"a": 1, "b": "x"}, {"a": 2, "b": None}],
        None,
        [],
        [None],
        [{"a": None, "b": "y"}, None, {"a": 5, "b": "z"}],
        [{"a": 6, "b": "w"}],
    ]

    meta = parse_footer(data)
    got = read_record_field(data, meta, 1)
    norm = [
        None
        if r is None
        else [
            None
            if e is None
            else {
                "a": e["a"],
                "b": e["b"].decode()
                if isinstance(e["b"], bytes)
                else e["b"],
            }
            for e in r
        ]
        for r in got
    ]
    assert norm == cols["ls"]


def test_struct_write_randomized_fuzz_vs_pyarrow():
    """Randomized struct / list<struct> rows through write ->
    pyarrow, sized to cross page boundaries in both shapes."""
    import random

    rng = random.Random(99)
    sts, lss = [], []
    for _ in range(300):
        if rng.random() < 0.15:
            sts.append(None)
        else:
            sts.append(
                {
                    "p": None if rng.random() < 0.3 else rng.randint(0, 999),
                    "q": None if rng.random() < 0.3 else f"s{rng.randint(0, 9)}",
                }
            )
        if rng.random() < 0.15:
            lss.append(None)
        else:
            lss.append(
                [
                    None
                    if rng.random() < 0.2
                    else {
                        "p": None if rng.random() < 0.3 else rng.randint(0, 999),
                        "q": None if rng.random() < 0.3 else f"t{rng.randint(0, 9)}",
                    }
                    for _ in range(rng.randint(0, 4))
                ]
            )
    cols = {"st": sts, "ls": lss}
    types = {
        "st": "STRUCT<p:INT64,q:STRING>",
        "ls": "LIST<STRUCT<p:INT64,q:STRING>>",
    }
    data = write_parquet(cols, types, page_rows=37)
    t = pq.ParquetFile(io.BytesIO(data)).read()
    assert t.column("st").to_pylist() == sts
    assert t.column("ls").to_pylist() == lss


def test_struct_write_rejects_bad_shapes():
    with pytest.raises(ParquetWriteError, match="not a dict"):
        write_parquet(
            {"st": [7]}, {"st": "STRUCT<a:INT64>"}
        )
    with pytest.raises(ParquetWriteError, match="not a list"):
        write_parquet(
            {"ls": [{"a": 1}]}, {"ls": "LIST<STRUCT<a:INT64>>"}
        )
    with pytest.raises(ParquetWriteError, match="needs name:TYPE"):
        write_parquet({"st": [None]}, {"st": "STRUCT<oops>"})
    with pytest.raises(ParquetWriteError, match="bad type"):
        write_parquet({"st": [None]}, {"st": "STRUCT<a:NOPE>"})


@pytest.mark.parametrize("page_rows", [None, 2])
def test_deep_nesting_write_three_referees(page_rows, tmp_path):
    """The r12 GENERIC inverse-Dremel striper: struct-of-list,
    struct-of-struct, list<list<int>> and list<list<struct>> — the
    shapes the READER already assembles — now write symmetrically,
    and pyarrow + DuckDB + our own record assembly recover the rows."""
    import duckdb

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        read_record_field,
    )

    cols = {
        "id": [1, 2, 3, 4, 5],
        "sl": [
            {"v": [1, 2], "w": 7},
            None,
            {"v": None, "w": 8},
            {"v": [], "w": None},
            {"v": [None, 5], "w": 9},
        ],
        "ss": [
            {"in": {"p": 1, "q": 2}, "r": 3},
            {"in": None, "r": 4},
            None,
            {"in": {"p": None, "q": 6}, "r": None},
            {"in": {"p": 7, "q": None}, "r": 8},
        ],
        "ll": [
            [[1], [2, 3]],
            None,
            [[]],
            [None],
            [[4], None, [5, None]],
        ],
        "lls": [
            [[{"z": 1}]],
            [],
            None,
            [None, []],
            [[{"z": None}, None], [{"z": 3}]],
        ],
    }
    types = {
        "id": "INT64",
        "sl": "STRUCT<v:LIST<INT64>,w:INT64>",
        "ss": "STRUCT<in:STRUCT<p:INT64,q:INT64>,r:INT64>",
        "ll": "LIST<LIST<INT64>>",
        "lls": "LIST<LIST<STRUCT<z:INT64>>>",
    }
    data = write_parquet(cols, types, page_rows=page_rows)

    t = pq.ParquetFile(io.BytesIO(data)).read()
    for name in cols:
        assert t.column(name).to_pylist() == cols[name], name

    p = tmp_path / "deep.parquet"
    p.write_bytes(data)
    rows = duckdb.connect().execute(
        f"SELECT sl, ss, ll, lls FROM '{p}' ORDER BY id"
    ).fetchall()
    assert [r[2] for r in rows] == cols["ll"]
    assert [r[0] for r in rows] == cols["sl"]

    meta = parse_footer(data)
    for ordinal, name in enumerate(cols):
        assert read_record_field(data, meta, ordinal) == cols[name], name


def test_deep_nesting_randomized_fuzz_vs_pyarrow():
    """Randomized records through the generic striper, pyarrow as
    referee — struct/list mixed three levels deep with nulls at
    every level, crossing page boundaries."""
    import random

    rng = random.Random(7)

    def mk_ll():
        if rng.random() < 0.15:
            return None
        return [
            None
            if rng.random() < 0.15
            else [
                None if rng.random() < 0.2 else rng.randint(0, 99)
                for _ in range(rng.randint(0, 3))
            ]
            for _ in range(rng.randint(0, 3))
        ]

    def mk_sl():
        if rng.random() < 0.15:
            return None
        return {
            "v": None
            if rng.random() < 0.2
            else [
                None if rng.random() < 0.2 else rng.randint(0, 99)
                for _ in range(rng.randint(0, 4))
            ],
            "w": None if rng.random() < 0.3 else rng.randint(0, 9),
        }

    lls, sls = [], []
    for _ in range(250):
        lls.append(mk_ll())
        sls.append(mk_sl())
    cols = {"ll": lls, "sl": sls}
    types = {
        "ll": "LIST<LIST<INT64>>",
        "sl": "STRUCT<v:LIST<INT64>,w:INT64>",
    }
    data = write_parquet(cols, types, page_rows=31)
    t = pq.ParquetFile(io.BytesIO(data)).read()
    assert t.column("ll").to_pylist() == lls
    assert t.column("sl").to_pylist() == sls


@pytest.mark.parametrize("page_rows", [None, 2])
def test_map_columns_three_referees(page_rows, tmp_path):
    """r12 MAP write: optional group (MAP) -> repeated key_value ->
    required key + optional value, the last nested kind the reader
    assembles that the writer lacked.  Null maps, empty maps, null
    values, nested list values — pyarrow, DuckDB and our own record
    assembly recover the entries."""
    import duckdb

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        read_record_field,
    )

    cols = {
        "id": [1, 2, 3, 4, 5],
        "m": [
            {"a": 1, "b": 2},
            None,
            {},
            {"c": None},
            {"d": 4, "e": None, "f": 6},
        ],
        "ml": [
            {"x": [1, 2]},
            {"y": None, "z": []},
            None,
            {},
            {"w": [None, 3]},
        ],
    }
    types = {
        "id": "INT64",
        "m": "MAP<STRING,INT64>",
        "ml": "MAP<STRING,LIST<INT64>>",
    }
    data = write_parquet(cols, types, page_rows=page_rows)

    t = pq.ParquetFile(io.BytesIO(data)).read()
    assert t.column("id").to_pylist() == cols["id"]
    # pyarrow surfaces maps as [(k, v), ...]
    for name in ("m", "ml"):
        want = [
            None if r is None else list(r.items()) for r in cols[name]
        ]
        assert t.column(name).to_pylist() == want, name

    p = tmp_path / "maps.parquet"
    p.write_bytes(data)
    rows = duckdb.connect().execute(
        f"SELECT m, ml FROM '{p}' ORDER BY id"
    ).fetchall()

    def duck_norm(v):  # duckdb surfaces MAP as {'key': [...], 'value': [...]}
        if v is None:
            return None
        if isinstance(v, dict) and set(v) == {"key", "value"}:
            return dict(zip(v["key"], v["value"]))
        return v

    assert [duck_norm(r[0]) for r in rows] == cols["m"]
    assert [duck_norm(r[1]) for r in rows] == cols["ml"]

    # our reader surfaces maps as [{'key': k, 'value': v}, ...]
    meta = parse_footer(data)
    for ordinal, name in (("1", "m"), ("2", "ml")):
        got = read_record_field(data, meta, int(ordinal))
        norm = [
            None
            if r is None
            else {
                (e["key"].decode() if isinstance(e["key"], bytes)
                 else e["key"]): e["value"]
                for e in r
            }
            for r in got
        ]
        assert norm == cols[name], name


def test_map_write_rejects_bad_shapes():
    with pytest.raises(ParquetWriteError, match="not a dict"):
        write_parquet({"m": [[1]]}, {"m": "MAP<STRING,INT64>"})
    with pytest.raises(ParquetWriteError, match="cannot be null"):
        write_parquet({"m": [{None: 1}]}, {"m": "MAP<STRING,INT64>"})
    with pytest.raises(ParquetWriteError, match="primitive"):
        write_parquet({"m": [None]}, {"m": "MAP<LIST<INT64>,INT64>"})
    with pytest.raises(ParquetWriteError, match="KEY,VALUE"):
        write_parquet({"m": [None]}, {"m": "MAP<INT64>"})


def test_struct_field_named_list_has_no_spurious_rep_stream(tmp_path):
    """ADVICE r12 (medium): has_rep was inferred from synthetic path
    NAMES, so a struct field legitimately named 'list' or 'key_value'
    grew a spurious repetition-level stream and the file silently
    decoded as all-None.  Derived structurally now."""
    cols = {"s": [{"list": 1}, {"list": 2}, None]}
    data = write_parquet(cols, {"s": "STRUCT<list:INT64>"})
    assert pq.read_table(io.BytesIO(data)).column("s").to_pylist() == cols["s"]
    assert read_record_field(data, parse_footer(data), 0) == cols["s"]

    cols2 = {"s": [{"key_value": "a"}, None, {"key_value": "b"}]}
    d2 = write_parquet(cols2, {"s": "STRUCT<key_value:STRING>"})
    assert pq.read_table(io.BytesIO(d2)).column("s").to_pylist() == cols2["s"]

    p = tmp_path / "named_list.parquet"
    p.write_bytes(data)
    assert duckdb.connect().execute(
        f"SELECT s.\"list\" FROM '{p}' ORDER BY 1 NULLS LAST"
    ).fetchall() == [(1,), (2,), (None,)]


def test_nested_striping_is_memoized_once_per_page(monkeypatch):
    """ADVICE r12 (low): a column with L leaves striped every page L
    times (O(L^2 x rows)).  The page memo must bring it to exactly one
    _stripe_nested call per page regardless of leaf count."""
    from databatchprotectionservice_spark.core import parquetwrite as pw

    calls = {"n": 0}
    real = pw._stripe_nested

    def counting(records, tree):
        calls["n"] += 1
        return real(records, tree)

    monkeypatch.setattr(pw, "_stripe_nested", counting)
    cols = {
        "x": [
            {"a": i, "b": "s%d" % i, "c": [i, i + 1], "d": {"k": i}}
            for i in range(40)
        ]
    }
    data = pw.write_parquet(
        cols,
        {"x": "STRUCT<a:INT64,b:STRING,c:LIST<INT64>,d:STRUCT<k:INT64>>"},
        page_rows=10,
    )
    assert calls["n"] == 4  # 40 rows / 10-row pages, NOT 4 leaves x 4
    assert pq.read_table(io.BytesIO(data)).column("x").to_pylist() == cols["x"]


def test_statistics_written_and_read_by_all_three_referees(tmp_path):
    """Chunk Statistics (r13): null_count + modern min_value/max_value
    under declared TypeDefinedOrder column_orders — the row-group
    pruning hook.  pyarrow surfaces them, duckdb PLANS an
    EMPTY_RESULT from them (whole-file pruning without touching
    data), our own parse_footer types them; NaN is excluded from
    float min/max per the spec."""
    data = write_parquet(
        {
            "a": [3, 1, None, 7, 2],
            "s": ["bb", None, "aa", "zz", "mm"],
            "f": [1.5, float("nan"), -2.0, None, 0.0],
            "l": [[1, 2], None, [5], [], [9, -3]],
        },
        {"a": "INT64", "s": "STRING", "f": "DOUBLE", "l": "LIST<INT64>"},
        page_rows=2,
    )
    md = pq.ParquetFile(io.BytesIO(data)).metadata
    want = {
        "a": (1, 7, 1),
        "s": ("aa", "zz", 1),
        "f": (-2.0, 1.5, 1),
        "l.list.element": (-3, 9, 2),
    }
    for i in range(md.num_columns):
        c = md.row_group(0).column(i)
        st = c.statistics
        assert st is not None and st.has_min_max, c.path_in_schema
        assert (st.min, st.max, st.null_count) == want[c.path_in_schema]
    own = parse_footer(data)
    a_stats = own["row_groups"][0]["columns"][0]["statistics"]
    assert a_stats == {
        "null_count": 1, "distinct_count": None,
        "min_value": 1, "max_value": 7,
    }
    s_stats = own["row_groups"][0]["columns"][1]["statistics"]
    assert (s_stats["min_value"], s_stats["max_value"]) == (b"aa", b"zz")
    p = tmp_path / "stats.parquet"
    p.write_bytes(data)
    con = duckdb.connect()
    assert con.execute(
        f"SELECT stats_min_value, stats_max_value FROM "
        f"parquet_metadata('{p}') WHERE column_id = 0"
    ).fetchall() == [("1", "7")]
    plan = con.execute(
        f"EXPLAIN SELECT count(*) FROM '{p}' WHERE a > 10"
    ).fetchall()[0][1]
    assert "EMPTY_RESULT" in plan  # pruned from stats alone


def test_statistics_all_null_chunk_has_no_min_max():
    data = write_parquet({"a": [None, None]}, {"a": "INT64"})
    st = parse_footer(data)["row_groups"][0]["columns"][0]["statistics"]
    assert st == {
        "null_count": 2, "distinct_count": None,
        "min_value": None, "max_value": None,
    }
    md = pq.ParquetFile(io.BytesIO(data)).metadata.row_group(0).column(0)
    assert md.statistics.null_count == 2
    assert not md.statistics.has_min_max


def test_statistics_parse_pyarrow_written_file():
    t = pa.table(
        {"x": pa.array([5, None, -2, 9]), "y": pa.array(["q", "a", None, "z"])}
    )
    buf = io.BytesIO()
    pq.write_table(t, buf)
    cols = parse_footer(buf.getvalue())["row_groups"][0]["columns"]
    assert cols[0]["statistics"]["min_value"] == -2
    assert cols[0]["statistics"]["max_value"] == 9
    assert cols[1]["statistics"]["min_value"] == b"a"
    assert cols[1]["statistics"]["null_count"] == 1


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "SNAPPY"])
def test_dictionary_encoding_three_referees(codec, tmp_path):
    """Dictionary write path (r13): admissible chunks get a PLAIN
    dictionary page + RLE_DICTIONARY data pages (the v2 recommended
    pair); high-cardinality chunks stay PLAIN automatically.  pyarrow,
    DuckDB and our own reader recover exact values; the footer
    declares encodings [8,3,0] and the dictionary_page_offset."""
    cols = {
        "flag": [["A", "B", "C"][i % 3] for i in range(1000)],
        "qty": [i % 50 for i in range(1000)],
        "uniq": list(range(1000)),
        "nn": [
            None if i % 5 == 0 else ["x", "y"][i % 2] for i in range(1000)
        ],
    }
    types = {
        "flag": "STRING", "qty": "INT32", "uniq": "INT64", "nn": "STRING",
    }
    data = write_parquet(cols, types, codec=codec, page_rows=77)
    t = pq.read_table(io.BytesIO(data))
    for n in cols:
        assert t.column(n).to_pylist() == cols[n], n
    meta = parse_footer(data)
    encs = {
        c["path_in_schema"]: c["encodings"]
        for c in meta["row_groups"][0]["columns"]
    }
    assert encs["flag"] == [8, 3, 0]  # RLE_DICTIONARY, RLE, PLAIN
    assert encs["uniq"] == [0, 3]  # not worth a dictionary
    dict_cols = [
        c for c in meta["row_groups"][0]["columns"]
        if c["path_in_schema"] != "uniq"
    ]
    assert all(c["dictionary_page_offset"] is not None for c in dict_cols)
    leaves = leaf_elements(meta["schema"])
    for ci, n in enumerate(cols):
        got = read_column(
            data, meta["row_groups"][0]["columns"][ci], leaves[ci][0]
        )
        if types[n] == "STRING":
            got = [None if v is None else v.decode() for v in got]
        assert got == cols[n], (n, "own reader")
    p = tmp_path / "dict.parquet"
    p.write_bytes(data)
    assert duckdb.connect().execute(
        f"SELECT flag, count(*) FROM '{p}' GROUP BY 1 ORDER BY 1"
    ).fetchall() == [("A", 334), ("B", 333), ("C", 333)]
    # the dictionary must actually shrink the UNCOMPRESSED file
    # (snappy-of-PLAIN can rival dict+snappy on tiny pages, so the
    # size claim is only meaningful without a codec in the way)
    plain = write_parquet(cols, types, codec=codec, use_dictionary=False)
    if codec == "UNCOMPRESSED":
        assert len(data) < len(plain)
    assert parse_footer(plain)["row_groups"][0]["columns"][0][
        "encodings"
    ] == [0, 3]


def test_rle_hybrid_midstream_group_alignment():
    """The bit-packed-groups-midstream rule: a reader consumes a
    whole 8-value group, so zero padding is only legal at END of
    stream — a short literal stretch followed by a long RLE run must
    absorb values up to the 8-boundary.  This exact pattern crashed
    pyarrow before the fix."""
    mix = (
        [0] * 50 + [1, 2, 3, 4, 5, 6, 7] * 20 + [3] * 100
        + list(range(8)) * 5
    )
    data = write_parquet({"v": mix}, {"v": "INT32"})
    assert pq.read_table(io.BytesIO(data)).column("v").to_pylist() == mix
    meta = parse_footer(data)
    got = read_column(
        data, meta["row_groups"][0]["columns"][0],
        leaf_elements(meta["schema"])[0][0],
    )
    assert got == mix


def test_dictionary_fuzz_vs_both_readers():
    import random

    random.seed(11)
    for trial in range(25):
        n = random.randrange(1, 400)
        card = random.choice([1, 2, 5, 17, 300])
        vals = [
            random.randrange(card) if random.random() > 0.2 else None
            for _ in range(n)
        ]
        data = write_parquet(
            {"v": vals}, {"v": "INT32"},
            page_rows=random.choice([None, 7, 64]),
            codec=random.choice(["UNCOMPRESSED", "SNAPPY"]),
        )
        assert pq.read_table(io.BytesIO(data)).column(
            "v"
        ).to_pylist() == vals, trial
        meta = parse_footer(data)
        got = read_column(
            data, meta["row_groups"][0]["columns"][0],
            leaf_elements(meta["schema"])[0][0],
        )
        assert got == vals, (trial, "own")


def test_dictionary_nested_leaves_and_spark(spark, tmp_path):
    cols = {
        "x": [
            None
            if i % 7 == 0
            else {"a": ["p", "q"][i % 2], "l": [i % 3, i % 3]}
            for i in range(500)
        ]
    }
    data = write_parquet(
        cols, {"x": "STRUCT<a:STRING,l:LIST<INT64>>"},
        page_rows=100, codec="SNAPPY",
    )
    assert pq.read_table(io.BytesIO(data)).column("x").to_pylist() == cols["x"]
    p = str(tmp_path / "nested_dict.parquet")
    with open(p, "wb") as f:
        f.write(data)
    df = spark.read.parquet(p)
    assert df.count() == 500
    row = df.selectExpr(
        "count(x) AS n", "sum(x.l[0]) AS s", "min(x.a) AS a"
    ).collect()[0]
    present = [v for v in cols["x"] if v is not None]
    assert row["n"] == len(present)
    assert row["s"] == sum(v["l"][0] for v in present)
    assert row["a"] == "p"


@pytest.mark.parametrize("codec", ["GZIP", "ZSTD"])
def test_gzip_and_zstd_page_codecs(codec, tmp_path):
    """r13 writer codecs beyond SNAPPY: GZIP pages are RFC-1952
    members via stdlib zlib, ZSTD rides the shared compression
    layer.  pyarrow, DuckDB and our own reader inflate them;
    dictionary + nested pages compress the same way."""
    cols = {
        "a": list(range(2000)),
        "s": [f"name-{i % 37}" for i in range(2000)],
        "l": [[i, None] if i % 3 else None for i in range(2000)],
    }
    types = {"a": "INT64", "s": "STRING", "l": "LIST<INT64>"}
    data = write_parquet(cols, types, codec=codec, page_rows=333)
    t = pq.read_table(io.BytesIO(data))
    for n in cols:
        assert t.column(n).to_pylist() == cols[n], n
    meta = parse_footer(data)
    assert meta["row_groups"][0]["columns"][0]["codec"] == codec
    leaves = leaf_elements(meta["schema"])
    got = read_column(
        data, meta["row_groups"][0]["columns"][0], leaves[0][0]
    )
    assert got == cols["a"]
    p = tmp_path / "codec.parquet"
    p.write_bytes(data)
    assert duckdb.connect().execute(
        f"SELECT sum(a), count(s) FROM '{p}'"
    ).fetchone() == (sum(cols["a"]), 2000)
    # compression actually engaged
    raw = write_parquet(cols, types, codec="UNCOMPRESSED", page_rows=333)
    assert len(data) < len(raw)


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "SNAPPY", "ZSTD"])
def test_data_page_v2_three_referees(codec, tmp_path):
    """DATA_PAGE_V2 write path (r13, the last named writer seam):
    rep/def level runs uncompressed up front with byte lengths in the
    header, only the values section under the codec; num_nulls and
    num_rows accounted per page.  Dictionary + nested columns ride
    the same layout; pyarrow, DuckDB and our own reader agree."""
    from databatchprotectionservice_spark.core.parquetmeta import (
        walk_pages,
    )

    cols = {
        "a": [None if i % 11 == 10 else i for i in range(1000)],
        "s": [f"v{i % 13}" for i in range(1000)],
        "l": [[i % 5, None] if i % 3 else None for i in range(1000)],
        "x": [
            {"p": i % 7, "q": [i % 2]} if i % 4 else None
            for i in range(1000)
        ],
    }
    types = {
        "a": "INT64", "s": "STRING", "l": "LIST<INT64>",
        "x": "STRUCT<p:INT64,q:LIST<INT64>>",
    }
    data = write_parquet(
        cols, types, codec=codec, page_rows=217, data_page_version=2
    )
    t = pq.read_table(io.BytesIO(data))
    for n in cols:
        assert t.column(n).to_pylist() == cols[n], n
    meta = parse_footer(data)
    got = read_column(
        data, meta["row_groups"][0]["columns"][0],
        leaf_elements(meta["schema"])[0][0],
    )
    assert got == cols["a"]
    assert read_record_field(data, meta, 3) == cols["x"]
    pages = walk_pages(data, meta["row_groups"][0]["columns"][0])
    assert any(p["type"] == 3 for p in pages)  # real V2 pages
    p = tmp_path / "v2.parquet"
    p.write_bytes(data)
    assert duckdb.connect().execute(
        f"SELECT count(*), count(a) FROM '{p}'"
    ).fetchone() == (1000, sum(1 for v in cols["a"] if v is not None))


def test_data_page_version_validated():
    with pytest.raises(ParquetWriteError, match="data_page_version"):
        write_parquet({"a": [1]}, {"a": "INT64"}, data_page_version=3)


def test_lz4_raw_pages_three_referees(tmp_path):
    """r14: LZ4_RAW (codec 7, raw liblz4 blocks) page bodies — pyarrow, DuckDB and our own reader all
    recover the values, both data-page versions, dict and plain."""
    import duckdb

    from databatchprotectionservice_spark.core.parquetread import (
        leaf_elements,
        read_column,
    )

    cols = {
        "a": list(range(500)),
        "s": [None if i % 7 == 0 else f"v{i:03d}" for i in range(500)],
    }
    types = {"a": "INT64", "s": "STRING"}
    for version in (1, 2):
        for use_dict in (True, False):
            data = write_parquet(
                cols,
                types,
                codec="LZ4_RAW",
                page_rows=64,
                data_page_version=version,
                use_dictionary=use_dict,
            )
            t = pq.ParquetFile(io.BytesIO(data)).read()
            assert t.column("a").to_pylist() == cols["a"]
            assert t.column("s").to_pylist() == cols["s"]
            meta = parse_footer(data)
            col0 = meta["row_groups"][0]["columns"][0]
            assert col0["codec"] == "LZ4_RAW"
            assert read_column(
                data, col0, leaf_elements(meta["schema"])[0][0]
            ) == cols["a"]
    path = tmp_path / "lz4.parquet"
    path.write_bytes(write_parquet(cols, types, codec="LZ4_RAW"))
    got = duckdb.connect().execute(
        f"SELECT sum(a), count(s) FROM '{path}'"
    ).fetchone()
    assert got == (
        sum(cols["a"]),
        sum(1 for x in cols["s"] if x is not None),
    )


def test_multi_row_group_layout_three_referees(tmp_path):
    """r14: ``row_group_rows`` bounds each row group — per-group chunk
    Statistics and page indexes, pyarrow/DuckDB/own-reader all recover
    the values, and DuckDB demonstrably PRUNES groups from our stats."""
    import duckdb

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_column_index,
        parse_offset_index,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        leaf_elements,
        read_column,
    )

    cols = {
        "a": list(range(1000)),
        "s": [None if i % 7 == 0 else f"v{i:04d}" for i in range(1000)],
        "l": [
            None if i % 11 == 0 else list(range(i % 4))
            for i in range(1000)
        ],
    }
    types = {"a": "INT64", "s": "STRING", "l": "LIST<INT64>"}
    # the default single-group path is byte-stable
    assert write_parquet(cols, types, page_rows=100) == write_parquet(
        cols, types, page_rows=100, row_group_rows=None
    )
    data = write_parquet(
        cols, types, codec="SNAPPY", page_rows=50, row_group_rows=250
    )
    f = pq.ParquetFile(io.BytesIO(data))
    assert f.metadata.num_row_groups == 4
    t = f.read()
    assert t.column("a").to_pylist() == cols["a"]
    assert t.column("s").to_pylist() == cols["s"]
    assert t.column("l").to_pylist() == cols["l"]
    meta = parse_footer(data)
    leaf = leaf_elements(meta["schema"])[0][0]
    for gi, rg in enumerate(meta["row_groups"]):
        st = rg["columns"][0]["statistics"]
        assert (st["min_value"], st["max_value"]) == (
            gi * 250,
            gi * 250 + 249,
        )
        ci = parse_column_index(data, rg["columns"][0])
        assert len(ci["min_values"]) == 5
        oi = parse_offset_index(data, rg["columns"][0])
        # first_row_index restarts per group (parquet-format)
        assert [p["first_row_index"] for p in oi] == [
            0, 50, 100, 150, 200,
        ]
        assert read_column(data, rg["columns"][0], leaf) == cols["a"][
            gi * 250 : (gi + 1) * 250
        ]
    # DuckDB prunes row groups via our per-group stats: a 10-group
    # file with a one-group predicate scans ~one group's rows
    big = write_parquet(
        {"a": list(range(100_000))},
        {"a": "INT64"},
        row_group_rows=10_000,
        page_rows=1_000,
    )
    path = tmp_path / "rg.parquet"
    path.write_bytes(big)
    con = duckdb.connect()
    assert con.execute(
        f"SELECT count(*) FROM '{path}' WHERE a BETWEEN 45000 AND 45999"
    ).fetchone() == (1000,)
    plan = str(
        con.execute(
            f"EXPLAIN ANALYZE SELECT count(*) FROM '{path}' "
            "WHERE a BETWEEN 45000 AND 45999"
        ).fetchall()
    )
    import re as _re

    scan = _re.search(r"PARQUET_SCAN.*?└", plan, _re.S).group(0)
    counts = [int(c) for c in _re.findall(r"\b(\d{3,6})\b", scan)]
    # the scan operator emitted ~one group's rows, not 100k
    assert any(c <= 10_000 for c in counts) and 100_000 not in counts


def test_multi_row_group_nested_column():
    rows = [
        None if i % 5 == 0 else {"q": i, "tags": [f"t{i % 3}"] * (i % 3)}
        for i in range(400)
    ]
    data = write_parquet(
        {"r": rows},
        {"r": "STRUCT<q:INT64,tags:LIST<STRING>>"},
        row_group_rows=100,
        page_rows=40,
    )
    f = pq.ParquetFile(io.BytesIO(data))
    assert f.metadata.num_row_groups == 4
    assert f.read().column("r").to_pylist() == rows


def test_sorting_columns_declared_and_parsed():
    """r14: sorting_columns declares the sort order in every RowGroup
    (SortingColumn triples) — pyarrow surfaces them and our parser
    round-trips both directions."""
    data = write_parquet(
        {"a": list(range(100)), "s": [str(i) for i in range(100)]},
        {"a": "INT64", "s": "STRING"},
        row_group_rows=40,
        sorting_columns=[(0, False, False)],
    )
    md = pq.ParquetFile(io.BytesIO(data)).metadata
    for g in range(md.num_row_groups):
        assert md.row_group(g).sorting_columns == (pq.SortingColumn(0),)
    meta = parse_footer(data)
    for rg in meta["row_groups"]:
        assert rg["sorting_columns"] == [(0, False, False)]
    # pyarrow-written sorting columns through OUR parser
    import pyarrow as pa_

    buf = io.BytesIO()
    pq.write_table(
        pa_.table({"a": [1, 2, 3]}),
        buf,
        sorting_columns=[pq.SortingColumn(0, descending=True)],
    )
    meta = parse_footer(buf.getvalue())
    assert meta["row_groups"][0]["sorting_columns"] == [(0, True, False)]
    # declaration is validated against the leaf count
    from databatchprotectionservice_spark.core.parquetwrite import (
        ParquetWriteError,
    )

    with pytest.raises(ParquetWriteError):
        write_parquet(
            {"a": [1]}, {"a": "INT64"}, sorting_columns=[(5, False, False)]
        )


# -- r14: page CRC-32 stamps + BROTLI codec ----------------------------


def test_page_checksums_both_verifiers():
    """Our CRC stamps verify under pyarrow's checker AND our reader;
    a flipped payload bit fails loudly on both sides."""
    import io

    import pyarrow.parquet as pq

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        ParquetReadError,
        leaf_elements,
        read_column,
    )

    cols = {
        "k": list(range(2000)),
        "n": [None if i % 5 == 0 else i * 1.5 for i in range(2000)],
    }
    types = {"k": "INT64", "n": "DOUBLE"}
    for dpv in (1, 2):
        blob = write_parquet(
            cols,
            types,
            codec="SNAPPY",
            page_rows=450,
            data_page_version=dpv,
            page_checksums=True,
        )
        t = pq.ParquetFile(
            io.BytesIO(blob), page_checksum_verification=True
        ).read()
        assert t.column("k").to_pylist() == cols["k"]
        meta = parse_footer(blob)
        les = {
            le["name"]: le for le, _r in leaf_elements(meta["schema"])
        }
        col = next(
            c
            for c in meta["row_groups"][0]["columns"]
            if c["path_in_schema"] == "k"
        )
        assert read_column(blob, col, les["k"]) == cols["k"]
        bad = bytearray(blob)
        bad[col["data_page_offset"] + 40] ^= 0x10
        bad = bytes(bad)
        with pytest.raises(ParquetReadError, match="CRC"):
            read_column(bad, col, les["k"])
        with pytest.raises(Exception):
            pq.ParquetFile(
                io.BytesIO(bad), page_checksum_verification=True
            ).read()


def test_reader_verifies_pyarrow_checksums():
    """pyarrow-stamped CRCs verify in our reader, and corruption of a
    pyarrow-written page is caught by OUR verifier."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        ParquetReadError,
        leaf_elements,
        read_column,
    )

    t = pa.table({"a": list(range(4000))})
    buf = io.BytesIO()
    pq.write_table(
        t, buf, write_page_checksum=True, use_dictionary=False
    )
    blob = buf.getvalue()
    meta = parse_footer(blob)
    les = {le["name"]: le for le, _r in leaf_elements(meta["schema"])}
    col = meta["row_groups"][0]["columns"][0]
    assert read_column(blob, col, les["a"]) == list(range(4000))
    from databatchprotectionservice_spark.core.parquetmeta import (
        walk_pages,
    )

    page = walk_pages(blob, col)[0]
    assert page["crc"] is not None  # pyarrow stamped it
    bad = bytearray(blob)
    bad[page["data_offset"] + 5] ^= 0x04  # inside the PAYLOAD
    with pytest.raises(ParquetReadError, match="CRC"):
        read_column(bytes(bad), col, les["a"])


def test_brotli_codec_pyarrow_and_own_reader():
    """BROTLI pages (codec 4): pyarrow full-reads and our reader
    decodes (DuckDB 1.0 has no brotli parquet support — documented
    referee set)."""
    import io

    import pyarrow.parquet as pq

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        leaf_elements,
        read_column,
    )

    cols = {
        "k": list(range(3000)),
        "s": [f"value-{i % 31}" for i in range(3000)],
    }
    types = {"k": "INT64", "s": "STRING"}
    for dpv in (1, 2):
        blob = write_parquet(
            cols,
            types,
            codec="BROTLI",
            page_rows=800,
            data_page_version=dpv,
            page_checksums=True,
        )
        t = pq.ParquetFile(
            io.BytesIO(blob), page_checksum_verification=True
        ).read()
        assert t.column("s").to_pylist() == cols["s"]
        meta = parse_footer(blob)
        les = {
            le["name"]: le for le, _r in leaf_elements(meta["schema"])
        }
        for name in cols:
            col = next(
                c
                for c in meta["row_groups"][0]["columns"]
                if c["path_in_schema"] == name
            )
            got = [
                g.decode() if isinstance(g, bytes) else g
                for g in read_column(blob, col, les[name])
            ]
            assert got == cols[name]


def test_lz4_hadoop_codec_roundtrip_and_pyarrow():
    """Parquet codec 5 (legacy hadoop-framed LZ4): our writer frames
    pages as [u32be raw][u32be comp][liblz4 block]; our reader and pyarrow's Lz4HadoopCodec both decode
    (pyarrow 16 cannot WRITE codec 5 — its "lz4" maps to LZ4_RAW —
    so the reverse direction is pinned against Spark's writer in
    test_lz4_hadoop_spark_interop)."""
    import io

    import pyarrow.parquet as pq

    from databatchprotectionservice_spark.core.parquetmeta import (
        parse_footer,
    )
    from databatchprotectionservice_spark.core.parquetread import (
        ParquetReadError,
        leaf_elements,
        read_column,
    )

    cols = {
        "k": list(range(4000)),
        "s": [f"val-{i % 17}" for i in range(4000)],
    }
    types = {"k": "INT64", "s": "STRING"}
    for dpv in (1, 2):
        blob = write_parquet(
            cols,
            types,
            codec="LZ4",
            page_rows=900,
            data_page_version=dpv,
            page_checksums=True,
        )
        meta = parse_footer(blob)
        col0 = meta["row_groups"][0]["columns"][0]
        assert col0["codec"] == "LZ4"
        les = {
            le["name"]: le for le, _r in leaf_elements(meta["schema"])
        }
        for name in cols:
            col = next(
                c
                for c in meta["row_groups"][0]["columns"]
                if c["path_in_schema"] == name
            )
            got = [
                g.decode() if isinstance(g, bytes) else g
                for g in read_column(blob, col, les[name])
            ]
            assert got == cols[name]
        t = pq.read_table(io.BytesIO(blob))
        assert t.column("k").to_pylist() == cols["k"]
        # truncating a chunk header fails loudly (the page walk's
        # range check fires first — DBPSInvalidInputError family)
        from databatchprotectionservice_spark.core.errors import (
            DBPSInvalidInputError,
        )

        bad = blob[: col0["data_page_offset"] + 4]
        with pytest.raises(DBPSInvalidInputError):
            read_column(bad, col0, les["k"])
