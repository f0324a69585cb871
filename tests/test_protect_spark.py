"""DataFrame-level protect/unprotect tests (the Spark-native data plane).

Mirrors the end-to-end discipline of ``dbpa_remote_testapp.cpp:339-581``
(string round-trips incl. empty/UTF-8/long values, float bit integrity)
plus FIXTURES.md F1/F4: round-trip on every supported logical type, null
preservation, write-read-through-parquet, and aggregate-equality after
round-trip.
"""

import datetime
import math
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databatchprotectionservice_spark.agent import DataFrameProtectionAgent
from databatchprotectionservice_spark.core.errors import DBPSInvalidInputError
from databatchprotectionservice_spark.core.types import PhysicalType
from databatchprotectionservice_spark.functions import (
    protect_column,
    unprotect_column,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("c_int", T.IntegerType()),
        T.StructField("c_long", T.LongType()),
        T.StructField("c_float", T.FloatType()),
        T.StructField("c_double", T.DoubleType()),
        T.StructField("c_str", T.StringType()),
        T.StructField("c_bin", T.BinaryType()),
        T.StructField("c_bool", T.BooleanType()),
        T.StructField("c_date", T.DateType()),
        T.StructField("c_ts", T.TimestampType()),
    ]
)

ROWS = [
    (
        1,
        100,
        2**62,
        1.5,
        2.5,
        "hello",
        b"\x00\x01",
        True,
        datetime.date(2024, 1, 1),
        datetime.datetime(2024, 1, 1, 12, 0, 0),
    ),
    (2, None, None, None, None, None, None, None, None, None),
    (
        3,
        -(2**31),
        -(2**62),
        float("inf"),
        -0.0,
        "",
        b"",
        False,
        datetime.date(1970, 1, 1),
        datetime.datetime(1999, 12, 31, 23, 59, 59),
    ),
    (
        4,
        7,
        42,
        float("nan"),
        -1e300,
        "héllo wörld" * 500,
        bytes(range(256)),
        True,
        datetime.date(2033, 5, 6),
        datetime.datetime(2001, 2, 3, 4, 5, 6),
    ),
]

COLS = [f.name for f in SCHEMA.fields if f.name != "id"]


def _values_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


def assert_frames_equal(df1, df2, key="id"):
    r1 = {r[key]: r.asDict() for r in df1.collect()}
    r2 = {r[key]: r.asDict() for r in df2.collect()}
    assert r1.keys() == r2.keys()
    for k in r1:
        for col in r1[k]:
            assert _values_equal(r1[k][col], r2[k][col]), (
                f"row {k} col {col}: {r1[k][col]!r} != {r2[k][col]!r}"
            )


@pytest.fixture(scope="module")
def typed_df(spark):
    return spark.createDataFrame(ROWS, SCHEMA).cache()


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
def test_all_types_roundtrip(spark, typed_df, encryptor):
    prot = typed_df
    for c in COLS:
        prot = protect_column(prot, c, "key_A", encryptor)
    for f in prot.schema.fields:
        if f.name != "id":
            assert isinstance(f.dataType, T.BinaryType)
    back = prot
    for c in COLS:
        back = unprotect_column(back, c, SCHEMA[c].dataType, "key_A", encryptor)
    assert_frames_equal(typed_df, back)


def test_protected_values_differ_and_nulls_pass_through(spark, typed_df):
    prot = protect_column(typed_df, "c_str", "key_A")
    rows = {r["id"]: r for r in prot.collect()}
    assert rows[1]["c_str"] != "hello"
    assert rows[1]["c_str"][0] == 6  # BYTE_ARRAY physical tag
    assert rows[2]["c_str"] is None
    assert rows[3]["c_str"] == b"\x06"  # empty string -> tag only


def test_wrong_key_garbles_wrong_type_tag_rejected(spark, typed_df):
    prot = protect_column(typed_df.select("id", "c_bin"), "c_bin", "key_A")
    garbled = unprotect_column(prot, "c_bin", T.BinaryType(), "key_B")
    vals = {r["id"]: r["c_bin"] for r in garbled.collect()}
    assert vals[1] != b"\x00\x01"  # wrong key -> wrong plaintext (XOR, no auth)

    # decrypting a byte-array-tagged cell as long must fail loudly
    bad = unprotect_column(prot, "c_bin", T.LongType(), "key_A")
    with pytest.raises(Exception, match="does not match expected"):
        bad.collect()


def test_roundtrip_through_parquet(spark, typed_df, tmp_path):
    """Protect -> write parquet -> read -> unprotect == original."""
    path = str(tmp_path / "protected.parquet")
    prot = typed_df
    for c in COLS:
        prot = protect_column(prot, c, "key_A")
    prot.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    for c in COLS:
        back = unprotect_column(back, c, SCHEMA[c].dataType, "key_A")
    assert_frames_equal(typed_df, back)


def test_lineitem_aggregate_after_roundtrip(spark, sf_dir):
    """FIXTURES.md F4: sum(l_extendedprice) must survive the round-trip."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agent = DataFrameProtectionAgent()
    agent.register_column("l_extendedprice", "key_price", T.DoubleType())
    agent.register_column("l_comment", "key_comment", T.StringType()) if "l_comment" in df.columns else None
    agent.register_column("l_orderkey", "key_ok", T.LongType())
    cols = [c for c in ("l_extendedprice", "l_orderkey") if c in df.columns]
    prot = agent.protect(df, cols)
    back = agent.unprotect(prot, cols)
    expected = df.agg(
        F.sum("l_extendedprice").alias("s"), F.count("*").alias("n")
    ).first()
    got = back.agg(F.sum("l_extendedprice").alias("s"), F.count("*").alias("n")).first()
    assert got["n"] == expected["n"]
    assert got["s"] == pytest.approx(expected["s"], rel=1e-12)


def test_unsupported_type_rejected(spark):
    df = spark.range(3).select(F.array(F.col("id")).alias("a"))
    with pytest.raises(DBPSInvalidInputError):
        protect_column(df, "a", "key_A")


def test_decimal_roundtrip_with_nulls(spark):
    from decimal import Decimal

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from databatchprotectionservice_spark.functions.protect import (
        protect_column,
        unprotect_column,
    )

    rows = [(Decimal("12345.67"),), (None,), (Decimal("-0.01"),), (Decimal("0"),)]
    df = spark.createDataFrame(rows, T.StructType(
        [T.StructField("d", T.DecimalType(12, 2))]
    ))
    prot = protect_column(df, "d", "kd")
    assert dict(prot.dtypes)["d"] == "binary"
    cells = [r.d for r in prot.collect()]
    assert cells[1] is None  # null stays null
    assert all(c is not None and len(c) == 17 for i, c in enumerate(cells) if i != 1)
    back = unprotect_column(prot, "d", T.DecimalType(12, 2), "kd")
    assert [r.d for r in back.collect()] == [r[0] for r in rows]


def test_decimal_roundtrip_aes(spark):
    from decimal import Decimal

    from pyspark.sql import types as T

    from databatchprotectionservice_spark.functions.protect import (
        protect_column,
        unprotect_column,
    )

    rows = [(Decimal("99999999.99"),), (Decimal("-99999999.99"),)]
    df = spark.createDataFrame(rows, T.StructType(
        [T.StructField("d", T.DecimalType(10, 2))]
    ))
    prot = protect_column(df, "d", "kd", encryptor="aes_siv")
    back = unprotect_column(prot, "d", T.DecimalType(10, 2), "kd", encryptor="aes_siv")
    assert [r.d for r in back.collect()] == [r[0] for r in rows]


KERNEL_COLUMNS = [
    (T.LongType(), pa.array([10, None, 30, 40, None, 60, 70, 80, 90, None, 11, 12], pa.int64())),
    (T.DoubleType(), pa.array([0.5, -1.0, None, 2.25, 3.0, None, 7.0, 8.5, None, 1e300, -0.0, 4.0])),
    (T.DateType(), pa.array([1, 2, None, 4, 5, 6, None, 8, 9, 10, 11, 12], pa.int32()).cast(pa.date32())),
    (T.DecimalType(12, 2), pa.array([Decimal("1.25"), None, Decimal("-3.50"), None] * 3, pa.decimal128(12, 2))),
    (T.BooleanType(), pa.array([True, False, None, True] * 3)),
    (T.StringType(), pa.array(["alpha", "beta", None, "", "gamma", "delta", None, "é" * 9, "x", "yz", None, "w"])),
    (T.BinaryType(), pa.array([b"\x00", None, b"", b"\xff" * 40] * 3, pa.binary())),
]
KERNEL_IDS = [t.simpleString() for t, _ in KERNEL_COLUMNS]


def _kernels(spark_type, encryptor, key="kk"):
    from databatchprotectionservice_spark.functions.protect import (
        make_protect_kernel,
        make_unprotect_kernel,
    )

    return (
        make_protect_kernel(spark_type, key, encryptor),
        make_unprotect_kernel(spark_type, key, encryptor),
    )


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
@pytest.mark.parametrize("spark_type,plain", KERNEL_COLUMNS, ids=KERNEL_IDS)
def test_sliced_inputs_roundtrip_through_the_kernels(spark_type, plain, encryptor):
    """Slices whose validity bitmap starts mid-byte (offset 3) protect to
    the same cells as their compacted copies, and the protected cells
    unprotect from a slice of their own."""
    protect, unprotect = _kernels(spark_type, encryptor)
    sliced = plain.slice(3, 8)
    assert sliced.offset == 3 and sliced.null_count
    compacted = pa.concat_arrays([sliced])
    cells = protect(sliced)
    assert cells.offset == 0
    assert cells.to_pylist() == protect(compacted).to_pylist()
    assert unprotect(cells).cast(plain.type).equals(sliced)
    every = protect(plain)
    assert unprotect(every.slice(3, 8)).cast(plain.type).equals(sliced)


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
@pytest.mark.parametrize("spark_type,plain", KERNEL_COLUMNS, ids=KERNEL_IDS)
def test_protect_output_null_slots_are_zero_length(spark_type, plain, encryptor):
    """Null rows come out of protect as zero-length slots, as Spark
    stores them; non-null cells start with the type tag."""
    from databatchprotectionservice_spark.functions.protect import ColumnCodec

    cells = _kernels(spark_type, encryptor)[0](plain)
    assert cells.null_count == plain.null_count
    offsets = np.frombuffer(cells.buffers()[1], np.int64)[: len(cells) + 1]
    lengths = np.diff(offsets)
    valid = np.asarray(plain.is_valid())
    assert (lengths[~valid] == 0).all()
    tag = ColumnCodec(spark_type, "kk", encryptor).tag
    assert all(c[0] == tag for c in cells.to_pylist() if c is not None)


def _with_null_payload(cells: pa.Array) -> pa.Array:
    """The same cells as large_binary whose null rows carry junk bytes."""
    rows = [b"\x99junk" if c is None else c for c in cells.to_pylist()]
    dense = pa.array(rows, pa.large_binary())
    validity = cells.is_valid().buffers()[1]
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(dense), [validity, *dense.buffers()[1:]]
    )


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
@pytest.mark.parametrize("spark_type,plain", KERNEL_COLUMNS, ids=KERNEL_IDS)
def test_unprotect_reads_both_cell_shapes(spark_type, plain, encryptor):
    """Spark hands ``binary`` (int32 offsets, empty null slots); written
    datasets may hold ``large_binary`` whose null slots carry bytes.
    Both unprotect, and rotate, to the same values."""
    from databatchprotectionservice_spark.functions.protect import (
        _make_rotate_kernel,
    )

    protect, unprotect = _kernels(spark_type, encryptor)
    cells = protect(plain)
    spark_shape = cells.cast(pa.binary())
    junk_shape = _with_null_payload(cells)
    assert junk_shape.null_count == plain.null_count
    for shape in (spark_shape, junk_shape):
        assert unprotect(shape).cast(plain.type).equals(plain)
    rotate = _make_rotate_kernel(spark_type, "kk", "k2", encryptor, "aes_siv")
    back = _kernels(spark_type, "aes_siv", "k2")[1]
    for shape in (spark_shape, junk_shape):
        assert back(rotate(shape)).cast(plain.type).equals(plain)


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
def test_unprotect_errors_keep_their_messages(encryptor):
    """Every malformed cell fails as DBPSInvalidInputError with the
    message it has always had."""
    from databatchprotectionservice_spark.core.keystream import make_encryptor

    protect, unprotect = _kernels(T.LongType(), encryptor)
    cells = protect(pa.array([5, None, 6], pa.int64())).to_pylist()

    def unprotect_with(cell2):
        return unprotect(pa.array([cells[0], None, cell2], pa.binary()))

    with pytest.raises(DBPSInvalidInputError, match="^protected cell shorter than type tag$"):
        unprotect_with(b"")
    wrong_tag = bytes([int(PhysicalType.INT32)]) + cells[2][1:]
    with pytest.raises(
        DBPSInvalidInputError,
        match="^protected cell tagged 1 does not match expected physical type 2$",
    ):
        unprotect_with(wrong_tag)
    ct, _ = make_encryptor(encryptor, "kk").encrypt_elements(
        np.frombuffer(b"short", np.uint8), np.array([0, 5], np.int64)
    )
    with pytest.raises(
        DBPSInvalidInputError, match="^decrypted cell length != 8 for a long column$"
    ):
        unprotect_with(cells[2][:1] + ct.tobytes())
    if encryptor == "aes_siv":
        tampered = cells[2][:-1] + bytes([cells[2][-1] ^ 1])
        with pytest.raises(
            DBPSInvalidInputError,
            match="^AES-SIV authentication failed: ciphertext tampered or wrong key$",
        ):
            unprotect_with(tampered)


def test_small_arrow_batches_roundtrip(spark):
    """Force many small Arrow batches through the protect UDFs."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from databatchprotectionservice_spark.functions.protect import (
        protect_column,
        unprotect_column,
    )

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "13")
    try:
        df = spark.range(0, 500).select(
            F.col("id"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        )
        prot = protect_column(protect_column(df, "s", "k1"), "id", "k2")
        back = unprotect_column(prot, "s", T.StringType(), "k1")
        back = unprotect_column(back, "id", T.LongType(), "k2")
        rows = sorted((r.id, r.s) for r in back.collect())
        assert rows == [(i, f"v{i}") for i in range(500)]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")


@pytest.mark.parametrize("encryptor", ["keystream_xor", "aes_siv"])
def test_fixed_width_unprotect_on_a_nullable_batch(encryptor):
    """Null slots carry no payload, so unprotect scatters the decrypted
    rows back under the validity mask; a non-null cell that decrypts to
    the wrong width must still be rejected, not shifted into place."""
    import numpy as np
    import pyarrow as pa

    from databatchprotectionservice_spark.core.keystream import make_encryptor
    from databatchprotectionservice_spark.core.types import PhysicalType
    from databatchprotectionservice_spark.functions.protect import (
        make_protect_kernel,
        make_unprotect_kernel,
    )

    plain = pa.array([7, None, -3, None, 2**40], pa.int64())
    prot = make_protect_kernel(T.LongType(), "kn", encryptor)(plain)
    unprot = make_unprotect_kernel(T.LongType(), "kn", encryptor)
    assert unprot(prot).equals(plain)
    dates = pa.array([datetime.date(2024, 2, 29), None], pa.date32())
    prot_dates = make_protect_kernel(T.DateType(), "kd", encryptor)(dates)
    assert make_unprotect_kernel(T.DateType(), "kd", encryptor)(
        prot_dates
    ).equals(dates)

    # cell 2 replaced by a well-formed ciphertext of 5 plaintext bytes
    ct, _ = make_encryptor(encryptor, "kn").encrypt_elements(
        np.frombuffer(b"short", np.uint8), np.array([0, 5], np.int64)
    )
    cells = prot.to_pylist()
    cells[2] = bytes([int(PhysicalType.INT64)]) + ct.tobytes()
    with pytest.raises(DBPSInvalidInputError, match="decrypted cell length"):
        unprot(pa.array(cells, pa.large_binary()))
