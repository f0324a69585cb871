"""Column-level protect / unprotect — the engine's core physical operator.

The reference encrypts one Parquet page batch per request
(``encryption_sequencer.cpp:113-196``); the Spark-native equivalent is a
**scalar Arrow UDF** applied to a logical column: Spark's Parquet reader
already handles pages/levels/compression, so the UDF sees exactly what the
reference's ``TypedValuesBuffer`` holds — a contiguous typed batch —
delivered as a ``pyarrow.Array`` with zero-copy buffers.

Design notes for 100 TB scale:

* **Embarrassingly parallel, no shuffle**: protect/unprotect is a pure
  per-row map; it preserves partitioning, ordering, and nullability, so it
  never forces an exchange and slots into any pipeline stage.
* **Vectorized end-to-end**: the keystream restarts per element, so a whole
  Arrow batch is XORed against one cached keystream table via numpy
  broadcasting — no per-row Python. Batch size is governed by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``.
* **Deterministic**: ciphertext depends only on (key_id, value), so Spark
  may freely recompute, cache, or re-order tasks (both encryptors are
  deterministic; AES-SIV by construction).
* **Nulls stay native**: the reference carries nulls in encrypted level
  bytes (``parquet_utils.cpp:80-184``); Spark columns carry them in
  validity bitmaps, which we pass through untouched (documented difference,
  SURVEY §7 "what's hard" #4).

Protected cell layout (compact per-value form of the batch wire format in
``encryptor_utils.h:29-45``): ``[u8 physical_type_tag][ciphertext]``.
The 1-byte tag makes every cell self-describing so unprotect can validate
it is decrypting the datatype it was configured for — the column-level
analogue of the sequencer's mode/version validation.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.errors import DBPSInvalidInputError
from ..core.keystream import make_encryptor
from ..core.types import PhysicalType

# Spark logical type -> (physical type tag, numpy dtype or None, pa type)
_SPARK_TO_PHYSICAL: dict[str, tuple[PhysicalType, np.dtype | None, pa.DataType]] = {
    "integer": (PhysicalType.INT32, np.dtype("<i4"), pa.int32()),
    "long": (PhysicalType.INT64, np.dtype("<i8"), pa.int64()),
    "float": (PhysicalType.FLOAT, np.dtype("<f4"), pa.float32()),
    "double": (PhysicalType.DOUBLE, np.dtype("<f8"), pa.float64()),
    "date": (PhysicalType.INT32, np.dtype("<i4"), pa.date32()),
    "timestamp": (PhysicalType.INT64, np.dtype("<i8"), pa.timestamp("us")),
    "timestamp_ntz": (PhysicalType.INT64, np.dtype("<i8"), pa.timestamp("us")),
    "string": (PhysicalType.BYTE_ARRAY, None, pa.large_string()),
    "binary": (PhysicalType.BYTE_ARRAY, None, pa.large_binary()),
    "boolean": (PhysicalType.BOOLEAN, np.dtype("u1"), pa.bool_()),
}


DECIMAL_WIDTH = 16  # decimal128 backing, the FIXED_LEN_BYTE_ARRAY analogue


def _physical_for(spark_type: T.DataType):
    if isinstance(spark_type, T.DecimalType):
        # Spark decimals are Parquet FIXED_LEN_BYTE_ARRAY-backed; protect
        # them as 16-byte fixed cells over the Arrow decimal128 buffer
        return (
            PhysicalType.FIXED_LEN_BYTE_ARRAY,
            np.dtype("<i8"),  # unused marker; decimal takes the raw path
            pa.decimal128(spark_type.precision, spark_type.scale),
        )
    entry = _SPARK_TO_PHYSICAL.get(spark_type.typeName())
    if entry is None:
        raise DBPSInvalidInputError(
            f"protect does not support Spark type {spark_type.simpleString()}"
        )
    return entry


def _array_as_flat_offsets(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Variable-width pa array -> (flat uint8, int64 offsets), nulls as
    zero-length. Zero-copy on the data buffer."""
    arr = arr.cast(pa.large_binary())
    if arr.null_count:
        arr = arr.fill_null(b"")
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int64)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    flat = np.frombuffer(buffers[2], dtype=np.uint8)[offsets[0] : offsets[-1]]
    offsets = offsets - offsets[0]
    return flat, offsets


def _fixed_as_flat_offsets(arr: pa.Array, dtype: np.dtype, pa_type: pa.DataType):
    """Fixed-width pa array -> (flat uint8, uniform offsets). Null slots are
    zero-filled (their ciphertext is discarded via the validity bitmap)."""
    width = dtype.itemsize
    if (
        arr.null_count == 0
        and not pa.types.is_boolean(arr.type)
        and arr.type.equals(pa_type)
        and not pa.types.is_date32(pa_type)
        and not pa.types.is_timestamp(pa_type)
    ):
        # common case: no nulls, physical type already matches — a
        # zero-copy view over the Arrow value buffer (no cast/fill copies)
        flat = np.frombuffer(arr.buffers()[1], dtype=np.uint8)[
            arr.offset * width : (arr.offset + len(arr)) * width
        ]
    elif pa.types.is_boolean(arr.type):
        flat = (
            arr.fill_null(False)
            .to_numpy(zero_copy_only=False)
            .astype("u1")
            .view(np.uint8)
            .reshape(-1)
        )
    else:
        target = pa_type
        if pa.types.is_date32(arr.type) or pa.types.is_timestamp(arr.type):
            target = pa.int32() if dtype.itemsize == 4 else pa.int64()
        flat = (
            arr.cast(target)
            .fill_null(0)
            .to_numpy(zero_copy_only=False)
            .astype(dtype, copy=False)
            .view(np.uint8)
            .reshape(-1)
        )
    offsets = np.arange(len(arr) + 1, dtype=np.int64) * width
    return flat, offsets


def _decimal_as_flat_offsets(arr: pa.Array, pa_type: pa.DataType):
    """Decimal128 array -> (flat uint8 over the 16-byte value buffer,
    uniform offsets). Null slots zero-filled like the other fixed paths."""
    import decimal

    arr = arr.cast(pa_type)
    if arr.null_count:
        arr = arr.fill_null(decimal.Decimal(0))
    buf = arr.buffers()[1]
    flat = np.frombuffer(buf, dtype=np.uint8)[
        arr.offset * DECIMAL_WIDTH : (arr.offset + len(arr)) * DECIMAL_WIDTH
    ]
    offsets = np.arange(len(arr) + 1, dtype=np.int64) * DECIMAL_WIDTH
    return flat, offsets


def _tag_and_wrap(
    ct_flat: np.ndarray,
    ct_offsets: np.ndarray,
    tag: int,
    validity: pa.Array | None,
    uniform_width: int | None = None,
) -> pa.Array:
    """Prepend the 1-byte type tag to each ciphertext and build a
    LargeBinaryArray, vectorized (no per-row python). ``uniform_width``
    is the caller's static guarantee (fixed dtype + length-preserving
    cipher) that every ciphertext is that many bytes."""
    n = len(ct_offsets) - 1
    if uniform_width is not None and n:
        # uniform width (fixed types): 2D assignment beats masking ~3x,
        # and the offsets are a closed-form arange (no cumsum pass)
        w = uniform_width
        out2d = np.empty((n, w + 1), dtype=np.uint8)
        out2d[:, 0] = tag
        out2d[:, 1:] = ct_flat.reshape(n, w)
        out_flat = out2d.reshape(-1)
        out_offsets = np.arange(n + 1, dtype=np.int64) * (w + 1)
    else:
        lengths = np.diff(ct_offsets)
        out_offsets = np.empty(n + 1, dtype=np.int64)
        out_offsets[0] = 0
        np.cumsum(lengths + 1, out=out_offsets[1:])
        out_flat = np.empty(int(out_offsets[-1]), dtype=np.uint8)
        starts = out_offsets[:-1]
        out_flat[starts] = tag
        mask = np.ones(out_flat.size, dtype=bool)
        mask[starts] = False
        out_flat[mask] = ct_flat
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        n,
        [
            validity,
            pa.py_buffer(out_offsets),
            pa.py_buffer(out_flat),
        ],
    )


def _compact(arr: pa.Array) -> pa.Array:
    """Materialize a sliced array so buffer offsets start at 0 (Spark's
    Arrow batches normally already do; this guards the general case)."""
    if arr.offset:
        arr = arr.take(pa.array(np.arange(len(arr), dtype=np.int64)))
    return arr


def _validity_buffer(arr: pa.Array):
    return arr.buffers()[0] if arr.null_count else None


def _strip_tags(arr: pa.Array, expected_tag: int):
    """Binary cells -> (ct_flat, ct_offsets) with the tag byte removed,
    validating every non-null cell's tag."""
    flat, offsets = _array_as_flat_offsets(arr)
    n = len(offsets) - 1
    lengths = np.diff(offsets)
    valid_mask = np.asarray(arr.is_valid())
    nonempty = lengths > 0
    if np.any(valid_mask & ~nonempty):
        raise DBPSInvalidInputError("protected cell shorter than type tag")
    starts = offsets[:-1]
    tags = flat[starts[nonempty]]
    if tags.size and not np.all(tags == expected_tag):
        bad = int(tags[tags != expected_tag][0])
        raise DBPSInvalidInputError(
            f"protected cell tagged {bad} does not match expected "
            f"physical type {expected_tag}"
        )
    ct_offsets = np.empty(n + 1, dtype=np.int64)
    ct_offsets[0] = 0
    np.cumsum(np.maximum(lengths - 1, 0), out=ct_offsets[1:])
    widths = lengths[nonempty]
    if widths.size and widths.max() == widths.min():
        # one width across the non-empty cells (null slots are empty, so
        # they add no bytes): drop the tag column via one 2D slice copy
        ct_flat = np.ascontiguousarray(
            flat.reshape(-1, int(widths[0]))[:, 1:]
        ).reshape(-1)
        return ct_flat, ct_offsets
    keep = np.ones(flat.size, dtype=bool)
    keep[starts[nonempty]] = False
    ct_flat = flat[keep]
    return ct_flat, ct_offsets


def make_protect_kernel(
    spark_type: T.DataType, key_id: str, encryptor_name: str
):
    """The plain ``pa.Array -> pa.Array`` encrypt kernel — shared by the
    arrow_udf wrapper (`protect_column`) and non-UDF consumers like the
    ``dbps_protected`` data source writer."""
    phys, dtype, pa_type = _physical_for(spark_type)
    tag = int(phys)
    # static per-column facts: plaintext element width (None = variable)
    # and whether ciphertext keeps that width (length-preserving cipher)
    if pa.types.is_decimal(pa_type):
        pt_width = DECIMAL_WIDTH
    elif dtype is not None:
        pt_width = dtype.itemsize
    else:
        pt_width = None
    length_preserving = make_encryptor(encryptor_name, "probe").length_preserving
    ct_width = pt_width if length_preserving else None

    def _protect(arr: pa.Array) -> pa.Array:
        arr = _compact(arr)
        enc = make_encryptor(encryptor_name, key_id)
        if pa.types.is_decimal(pa_type):
            flat, offsets = _decimal_as_flat_offsets(arr, pa_type)
        elif dtype is None:
            flat, offsets = _array_as_flat_offsets(arr)
        else:
            flat, offsets = _fixed_as_flat_offsets(arr, dtype, pa_type)
        ct_flat, ct_offsets = enc.encrypt_elements(
            flat, offsets, uniform_width=pt_width
        )
        return _tag_and_wrap(
            ct_flat, ct_offsets, tag, _validity_buffer(arr), uniform_width=ct_width
        )

    return _protect


def _make_protect_udf(spark_type: T.DataType, key_id: str, encryptor_name: str):
    from pyspark.sql.functions import arrow_udf

    return arrow_udf(T.BinaryType())(
        make_protect_kernel(spark_type, key_id, encryptor_name)
    )


def make_unprotect_kernel(
    spark_type: T.DataType, key_id: str, encryptor_name: str
):
    """The plain ``pa.Array -> pa.Array`` decrypt kernel — shared by the
    arrow_udf wrapper (`unprotect_column`) and non-UDF consumers like
    the ``dbps_protected`` Python data source, which decrypts whole
    Arrow record batches outside any Spark plan."""
    phys, dtype, pa_type = _physical_for(spark_type)
    tag = int(phys)
    type_name = spark_type.typeName()

    if isinstance(spark_type, T.DecimalType):
        pt_width = DECIMAL_WIDTH
    elif dtype is not None:
        pt_width = dtype.itemsize
    else:
        pt_width = None
    length_preserving = make_encryptor(encryptor_name, "probe").length_preserving
    ct_width = pt_width if length_preserving else None

    def _unprotect(arr: pa.Array) -> pa.Array:
        arr = _compact(arr)
        enc = make_encryptor(encryptor_name, key_id)
        ct_flat, ct_offsets = _strip_tags(arr, tag)
        # null slots carry ZERO-length payloads through Spark, so the
        # uniform-width shortcut is only valid on null-free batches
        uw = ct_width if arr.null_count == 0 else None
        flat, offsets = enc.decrypt_elements(ct_flat, ct_offsets, uniform_width=uw)
        validity = _validity_buffer(arr)
        n = len(arr)
        if dtype is None:
            out = pa.LargeBinaryArray.from_buffers(
                pa.large_binary(),
                n,
                [
                    validity,
                    pa.py_buffer(np.ascontiguousarray(offsets, np.int64)),
                    pa.py_buffer(np.ascontiguousarray(flat)),
                ],
            )
            if type_name == "string":
                return out.cast(pa.large_string())
            return out
        # fixed-width: null cells carry no payload through Spark, so rebuild
        # the dense value buffer from the validity mask
        width = DECIMAL_WIDTH if pa.types.is_decimal(pa_type) else dtype.itemsize
        lengths = np.diff(offsets)
        if validity is None:
            valid_mask = None
            bad = lengths != width
        else:
            valid_mask = np.asarray(arr.is_valid())
            bad = lengths != np.where(valid_mask, width, 0)
        if bad.any():
            raise DBPSInvalidInputError(
                f"decrypted cell length != {width} for a {type_name} column"
            )
        rows = np.ascontiguousarray(flat).reshape(-1, width)
        if valid_mask is None:
            full = rows
        else:
            full = np.zeros((n, width), dtype=np.uint8)
            full[valid_mask] = rows
        if type_name == "boolean":
            return _with_validity(pa.array(full.reshape(-1) != 0), validity, n)
        return pa.Array.from_buffers(pa_type, n, [validity, pa.py_buffer(full)])

    return _unprotect


def _make_unprotect_udf(spark_type: T.DataType, key_id: str, encryptor_name: str):
    from pyspark.sql.functions import arrow_udf

    return arrow_udf(spark_type)(
        make_unprotect_kernel(spark_type, key_id, encryptor_name)
    )


def _with_validity(arr: pa.Array, validity, n: int) -> pa.Array:
    if validity is None:
        return arr
    buffers = arr.buffers()
    return pa.Array.from_buffers(arr.type, n, [validity, *buffers[1:]])


def _make_rotate_udf(
    original_type: T.DataType,
    old_key_id: str,
    new_key_id: str,
    old_encryptor: str,
    new_encryptor: str,
):
    """One Arrow pass: strip tags -> decrypt(old) -> encrypt(new) -> re-tag.

    Key rotation without the plaintext ever existing as a DataFrame
    column: the decrypted bytes live only inside this UDF's Arrow batch
    (executor memory) between the two cipher calls. The physical-type
    tag is preserved, so rotated cells remain readable by the normal
    unprotect path with the new key."""
    phys, dtype, pa_type = _physical_for(original_type)
    tag = int(phys)
    if isinstance(original_type, T.DecimalType):
        pt_width = DECIMAL_WIDTH
    elif dtype is not None:
        pt_width = dtype.itemsize
    else:
        pt_width = None
    old_lp = make_encryptor(old_encryptor, "probe").length_preserving
    new_lp = make_encryptor(new_encryptor, "probe").length_preserving
    old_ct_width = pt_width if old_lp else None
    new_ct_width = pt_width if new_lp else None

    from pyspark.sql.functions import arrow_udf

    @arrow_udf(T.BinaryType())
    def _rotate(arr: pa.Array) -> pa.Array:
        arr = _compact(arr)
        old = make_encryptor(old_encryptor, old_key_id)
        new = make_encryptor(new_encryptor, new_key_id)
        ct_flat, ct_offsets = _strip_tags(arr, tag)
        # null slots carry zero-length payloads, so the uniform-width
        # shortcut only holds on null-free batches (same rule as
        # _make_unprotect_udf)
        uw = old_ct_width if arr.null_count == 0 else None
        flat, offsets = old.decrypt_elements(ct_flat, ct_offsets, uniform_width=uw)
        new_uw = pt_width if arr.null_count == 0 else None
        new_flat, new_offsets = new.encrypt_elements(
            flat, offsets, uniform_width=new_uw
        )
        return _tag_and_wrap(
            new_flat,
            new_offsets,
            tag,
            _validity_buffer(arr),
            uniform_width=new_ct_width if arr.null_count == 0 else None,
        )

    return _rotate


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def protect_column(
    df: DataFrame,
    column: str,
    key_id: str,
    encryptor: str = "keystream_xor",
) -> DataFrame:
    """Replace ``column`` with its protected (BinaryType) form."""
    spark_type = df.schema[column].dataType
    udf = _make_protect_udf(spark_type, key_id, encryptor)
    return df.withColumn(column, udf(F.col(column)))


def unprotect_column(
    df: DataFrame,
    column: str,
    original_type: T.DataType,
    key_id: str,
    encryptor: str = "keystream_xor",
) -> DataFrame:
    """Inverse of :func:`protect_column`; ``original_type`` is the logical
    type the column had before protection (the analogue of the reference
    agent's per-column ``datatype`` init parameter)."""
    udf = _make_unprotect_udf(original_type, key_id, encryptor)
    return df.withColumn(column, udf(F.col(column)))


def make_verify_kernel(
    original_type: T.DataType, key_id: str, encryptor_name: str
):
    """The plain ``pa.Array -> pa.Array`` integrity kernel behind
    :func:`verify_column`: one boolean per cell. A cell verifies when its
    tag matches the declared physical type and its payload decrypts
    (AES-SIV authenticates; the keystream path length-checks fixed-width
    cells). Nulls verify as true (a null cell carries nothing to
    corrupt), and no plaintext leaves the kernel.

    All tagged cells decrypt in one batch call. A batch aborts at its
    FIRST bad cell, but a verdict is needed per cell, so only when the
    batch fails do the cells decrypt one by one."""
    phys, dtype, pa_type = _physical_for(original_type)
    tag = int(phys)
    if isinstance(original_type, T.DecimalType):
        pt_width = DECIMAL_WIDTH
    elif dtype is not None:
        pt_width = dtype.itemsize
    else:
        pt_width = None

    def _verify(arr: pa.Array) -> pa.Array:
        arr = _compact(arr)
        enc = make_encryptor(encryptor_name, key_id)
        valid_mask = np.asarray(arr.is_valid(), dtype=bool)
        flat, offsets = _array_as_flat_offsets(arr)
        starts = offsets[:-1]
        lengths = np.diff(offsets)
        ok = ~valid_mask  # nulls: nothing to verify
        # a missing tag byte or a wrong physical type fails outright
        tagged = valid_mask & (lengths >= 1)
        tagged[tagged] = flat[starts[tagged]] == tag
        cells = np.flatnonzero(tagged)
        keep = np.repeat(tagged, lengths)
        keep[starts[cells]] = False  # drop the tag bytes
        ct_offsets = np.zeros(cells.size + 1, dtype=np.int64)
        np.cumsum(lengths[cells] - 1, out=ct_offsets[1:])
        try:
            _, pt_offsets = enc.decrypt_elements(flat[keep], ct_offsets)
        except DBPSInvalidInputError:
            ok[cells] = [
                _verify_cell(enc, flat[starts[i] + 1 : starts[i] + lengths[i]])
                for i in cells
            ]
        else:
            # fixed-width plaintext must have its type's width
            ok[cells] = pt_width is None or np.diff(pt_offsets) == pt_width
        return pa.array(ok)

    def _verify_cell(enc, cell: np.ndarray) -> bool:
        try:
            pt_flat, _ = enc.decrypt_elements(
                cell, np.array([0, cell.size], dtype=np.int64)
            )
        except Exception:  # noqa: BLE001 - auth failure = invalid cell
            return False
        return pt_width is None or pt_flat.size == pt_width

    return _verify


def _make_verify_udf(
    original_type: T.DataType, key_id: str, encryptor_name: str
):
    from pyspark.sql.functions import arrow_udf

    return arrow_udf(T.BooleanType())(
        make_verify_kernel(original_type, key_id, encryptor_name)
    )


def verify_column(
    df: DataFrame,
    column: str,
    original_type: T.DataType,
    key_id: str,
    encryptor: str = "keystream_xor",
    flag_column: str | None = None,
) -> DataFrame:
    """Append a boolean ``flag_column`` (default ``{column}__ok``) marking
    cells that verify under ``key_id`` — the fsck primitive for
    protected data. With ``aes_siv`` this is a true cryptographic
    authentication sweep; with the keystream placeholder it validates
    tag + fixed-width length structure."""
    udf = _make_verify_udf(original_type, key_id, encryptor)
    return df.withColumn(flag_column or f"{column}__ok", udf(F.col(column)))


def rotate_key_column(
    df: DataFrame,
    column: str,
    original_type: T.DataType,
    old_key_id: str,
    new_key_id: str,
    old_encryptor: str = "keystream_xor",
    new_encryptor: str = "keystream_xor",
) -> DataFrame:
    """Re-encrypt a protected ``column`` under ``new_key_id`` (optionally
    a different cipher) in one vectorized pass — the rotation primitive
    for long-lived protected datasets. Plaintext never appears in the
    plan; see :func:`_make_rotate_udf`."""
    udf = _make_rotate_udf(
        original_type, old_key_id, new_key_id, old_encryptor, new_encryptor
    )
    return df.withColumn(column, udf(F.col(column)))


def protect_columns(
    df: DataFrame, columns: dict[str, str], encryptor: str = "keystream_xor"
) -> DataFrame:
    """Protect several columns at once; ``columns`` maps name -> key_id."""
    for name, key_id in columns.items():
        df = protect_column(df, name, key_id, encryptor)
    return df


def unprotect_columns(
    df: DataFrame,
    columns: dict[str, tuple[T.DataType, str]],
    encryptor: str = "keystream_xor",
) -> DataFrame:
    """``columns`` maps name -> (original_type, key_id)."""
    for name, (dt, key_id) in columns.items():
        df = unprotect_column(df, name, dt, key_id, encryptor)
    return df
