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
* **One native pass per direction**: around the cipher call, every
  byte-level step is one pass of the C helper (``core/_native.py``), the
  way the reference moves a page's values in C++
  (``typed_buffer.h:38-133``). Protect gathers the valid rows' values
  (zero-copy without nulls), encrypts them as one batch and tags the
  ciphertexts into cells; unprotect strips and checks the tags, decrypts
  the batch and scatters it back to rows. No per-row Python and no
  numpy layout copies. Batch size is governed by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``.
* **Deterministic**: ciphertext depends only on (key_id, value), so Spark
  may freely recompute, cache, or re-order tasks (both encryptors are
  deterministic; AES-SIV by construction).
* **Nulls stay native**: the reference carries nulls in encrypted level
  bytes (``parquet_utils.cpp:80-184``); Spark columns carry them in
  validity bitmaps, which we pass through untouched (documented difference,
  SURVEY §7 "what's hard" #4). A null row never reaches a cipher: its
  protected slot is zero-length, as Spark stores it, and whatever bytes
  a null slot of an input holds are ignored.

Protected cell layout (compact per-value form of the batch wire format in
``encryptor_utils.h:29-45``): ``[u8 physical_type_tag][ciphertext]``.
The 1-byte tag makes every cell self-describing so unprotect can validate
it is decrypting the datatype it was configured for — the column-level
analogue of the sequencer's mode/version validation.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import _native
from ..core.errors import DBPSInvalidInputError
from ..core.keystream import make_encryptor
from ..core.types import PhysicalType

# Spark logical type -> (physical type tag, plaintext width or None, pa type)
_SPARK_TO_PHYSICAL: dict[str, tuple[PhysicalType, int | None, pa.DataType]] = {
    "integer": (PhysicalType.INT32, 4, pa.int32()),
    "long": (PhysicalType.INT64, 8, pa.int64()),
    "float": (PhysicalType.FLOAT, 4, pa.float32()),
    "double": (PhysicalType.DOUBLE, 8, pa.float64()),
    "date": (PhysicalType.INT32, 4, pa.date32()),
    "timestamp": (PhysicalType.INT64, 8, pa.timestamp("us")),
    "timestamp_ntz": (PhysicalType.INT64, 8, pa.timestamp("us")),
    "string": (PhysicalType.BYTE_ARRAY, None, pa.large_string()),
    "binary": (PhysicalType.BYTE_ARRAY, None, pa.large_binary()),
    "boolean": (PhysicalType.BOOLEAN, 1, pa.bool_()),
}


DECIMAL_WIDTH = 16  # decimal128 backing, the FIXED_LEN_BYTE_ARRAY analogue


def _physical_for(spark_type: T.DataType):
    if isinstance(spark_type, T.DecimalType):
        # Spark decimals are Parquet FIXED_LEN_BYTE_ARRAY-backed; protect
        # them as 16-byte fixed cells over the Arrow decimal128 buffer
        return (
            PhysicalType.FIXED_LEN_BYTE_ARRAY,
            DECIMAL_WIDTH,
            pa.decimal128(spark_type.precision, spark_type.scale),
        )
    entry = _SPARK_TO_PHYSICAL.get(spark_type.typeName())
    if entry is None:
        raise DBPSInvalidInputError(
            f"protect does not support Spark type {spark_type.simpleString()}"
        )
    return entry


def _validity(arr: pa.Array) -> np.ndarray | None:
    """``arr``'s validity bitmap from its first row on, None without
    nulls."""
    if not arr.null_count:
        return None
    if arr.offset % 8:
        return np.frombuffer(arr.is_valid().buffers()[1], np.uint8)
    return np.frombuffer(arr.buffers()[0], np.uint8)[arr.offset // 8 :]


def _bytes(buf: pa.Buffer | None) -> np.ndarray:
    return np.frombuffer(buf, np.uint8) if buf else np.empty(0, np.uint8)


def _cells(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets) of a binary-like array, zero-copy: row i is
    ``data[offsets[i]:offsets[i+1]]``, offsets int32 or int64 as Arrow
    holds them."""
    t = arr.type
    wide = pa.types.is_large_binary(t) or pa.types.is_large_string(t)
    if not (wide or pa.types.is_binary(t) or pa.types.is_string(t)):
        arr, wide = arr.cast(pa.large_binary()), True
    offsets = np.frombuffer(arr.buffers()[1], np.int64 if wide else np.int32)
    offsets = offsets[arr.offset : arr.offset + len(arr) + 1]
    return _bytes(arr.buffers()[2]), offsets


def _check(err: int) -> None:
    """Raise for a C pass's layout error code."""
    if err == -1:
        raise DBPSInvalidInputError("cell offsets do not fit the batch buffer")
    if err:
        raise DBPSInvalidInputError("validity bitmap disagrees with the null count")


class ColumnCodec:
    """Every protection fact of one (Spark type, key id, encryptor)
    column, fixed once: the analogue of the reference agent's per-column
    ``init`` (``dbpa_interface.h:96-161``). Each operation is built from
    the two byte-level halves, :meth:`seal` (encrypt, then tag) and
    :meth:`open` (untag, then decrypt); each half is one C pass plus the
    cipher call.

    Between the halves a column travels as a *batch*: the valid rows
    only, as (flat uint8, int64 offsets), with the column's validity
    bitmap. Null rows never reach a cipher.

    The encryptor is looked up through the module-level ``make_encryptor``
    on every call rather than bound here, so a tracer that patches it
    sees every cipher call."""

    def __init__(self, spark_type: T.DataType, key_id: str, encryptor_name: str):
        phys, self.pt_width, self.pa_type = _physical_for(spark_type)
        self.tag = int(phys)
        self.type_name = spark_type.typeName()
        self.key_id = key_id
        self.encryptor_name = encryptor_name
        make_encryptor(encryptor_name, "probe")  # unknown names fail here

    def encryptor(self):
        return make_encryptor(self.encryptor_name, self.key_id)

    def flatten(self, arr: pa.Array):
        """Plaintext array -> (flat, offsets, validity) of its valid rows:
        booleans one byte each, other fixed-width values in the column's
        Arrow type (a zero-copy cast for dates and timestamps)."""
        if self.type_name == "boolean":
            arr = arr.cast(pa.uint8())
        elif self.pt_width and not arr.type.equals(self.pa_type):
            arr = arr.cast(self.pa_type)
        valid, n, w = _validity(arr), len(arr), self.pt_width
        if w is None:
            data, offsets = _cells(arr)
        else:
            data, offsets = _bytes(arr.buffers()[1])[arr.offset * w :], None
        err, flat, boff, _ = _native.gather(
            data, n, valid, n - arr.null_count, offsets, width=w or 0
        )
        _check(err)
        return flat, boff, valid

    def seal(self, flat, offsets, valid, n: int, uniform_width=None) -> pa.Array:
        """Encrypt a batch and tag each cell into an n-row binary array,
        null rows zero-length. ``uniform_width`` asserts every element is
        that many bytes."""
        ct, ct_offsets = self.encryptor().encrypt_elements(
            flat, offsets, uniform_width=uniform_width
        )
        err, out, out_offsets = _native.scatter(ct, ct_offsets, n, valid, tag=self.tag)
        _check(err)
        return pa.LargeBinaryArray.from_buffers(
            pa.large_binary(), n, _buffers(valid, out_offsets, out)
        )

    def untag(self, arr: pa.Array, ok: np.ndarray | None = None):
        """Tagged cells -> (payloads, offsets, common width or None,
        validity) of the valid rows, validating every tag. With ``ok``,
        a bad cell is marked there and left out instead of raising."""
        data, offsets = _cells(arr)
        valid, n = _validity(arr), len(arr)
        err, flat, boff, info = _native.gather(
            data, n, valid, n - arr.null_count, offsets, tag=self.tag, ok=ok
        )
        if err == 1:
            raise DBPSInvalidInputError("protected cell shorter than type tag")
        if err == 2:
            raise DBPSInvalidInputError(
                f"protected cell tagged {info[3]} does not match expected "
                f"physical type {self.tag}"
            )
        _check(err)
        return flat, boff, (info[1] if info[1] >= 0 else None), valid

    def open(self, arr: pa.Array):
        """Tagged cells -> the decrypted batch (flat, offsets, validity)."""
        flat, boff, width, valid = self.untag(arr)
        pt, pt_offsets = self.encryptor().decrypt_elements(
            flat, boff, uniform_width=width
        )
        return pt, pt_offsets, valid

    def rebuild(self, flat, offsets, valid, n: int) -> pa.Array:
        """Decrypted batch -> the n-row typed array with its nulls."""
        err, rows, row_offsets = _native.scatter(
            flat, offsets, n, valid, width=self.pt_width or 0
        )
        if err == 1:
            raise DBPSInvalidInputError(
                f"decrypted cell length != {self.pt_width} for a "
                f"{self.type_name} column"
            )
        _check(err)
        if self.pt_width is None:
            out = pa.LargeBinaryArray.from_buffers(
                pa.large_binary(), n, _buffers(valid, row_offsets, rows)
            )
            return out.cast(pa.large_string()) if self.type_name == "string" else out
        storage = pa.uint8() if self.type_name == "boolean" else self.pa_type
        out = pa.Array.from_buffers(storage, n, _buffers(valid, rows))
        return out.cast(pa.bool_()) if self.type_name == "boolean" else out


def _buffers(valid: np.ndarray | None, *arrays: np.ndarray) -> list:
    """Arrow buffers of an array: its validity bitmap, then ``arrays``."""
    return [None if valid is None else pa.py_buffer(valid), *map(pa.py_buffer, arrays)]


def make_protect_kernel(
    spark_type: T.DataType, key_id: str, encryptor_name: str
):
    """The plain ``pa.Array -> pa.Array`` encrypt kernel (flatten, then
    seal) — shared by the arrow_udf wrapper (`protect_column`) and
    non-UDF consumers like the ``dbps_protected`` data source writer."""
    codec = ColumnCodec(spark_type, key_id, encryptor_name)

    def _protect(arr: pa.Array) -> pa.Array:
        flat, offsets, validity = codec.flatten(arr)
        return codec.seal(flat, offsets, validity, len(arr), codec.pt_width)

    return _protect


def make_unprotect_kernel(
    spark_type: T.DataType, key_id: str, encryptor_name: str
):
    """The plain ``pa.Array -> pa.Array`` decrypt kernel (open, then the
    typed rebuild) — shared by the arrow_udf wrapper (`unprotect_column`)
    and non-UDF consumers like the ``dbps_protected`` Python data source,
    which decrypts whole Arrow record batches outside any Spark plan."""
    codec = ColumnCodec(spark_type, key_id, encryptor_name)

    def _unprotect(arr: pa.Array) -> pa.Array:
        return codec.rebuild(*codec.open(arr), len(arr))

    return _unprotect


def _make_rotate_kernel(
    original_type: T.DataType,
    old_key_id: str,
    new_key_id: str,
    old_encryptor: str,
    new_encryptor: str,
):
    """One Arrow pass: the old codec's open, then the new codec's seal.

    Key rotation without the plaintext ever existing as a DataFrame
    column: the decrypted bytes live only inside this kernel's Arrow
    batch (executor memory) between the two cipher calls. The
    physical-type tag is preserved, so rotated cells remain readable by
    the normal unprotect path with the new key."""
    old = ColumnCodec(original_type, old_key_id, old_encryptor)
    new = ColumnCodec(original_type, new_key_id, new_encryptor)

    def _rotate(arr: pa.Array) -> pa.Array:
        return new.seal(*old.open(arr), len(arr))

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
    udf = F.arrow_udf(T.BinaryType())(
        make_protect_kernel(spark_type, key_id, encryptor)
    )
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
    udf = F.arrow_udf(original_type)(
        make_unprotect_kernel(original_type, key_id, encryptor)
    )
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
    codec = ColumnCodec(original_type, key_id, encryptor_name)
    pt_width = codec.pt_width

    def _verify(arr: pa.Array) -> pa.Array:
        # tagged[i]: row i is valid and carries the column's tag; the
        # batch holds those rows' payloads, a bad tag fails outright
        tagged = np.zeros(len(arr), dtype=np.uint8)
        flat, offsets, _, _ = codec.untag(arr, ok=tagged)
        tagged = tagged.view(bool)
        enc = codec.encryptor()
        ok = ~np.asarray(arr.is_valid(), dtype=bool)  # nulls: nothing to verify
        try:
            _, pt_offsets = enc.decrypt_elements(flat, offsets)
        except DBPSInvalidInputError:
            ok[tagged] = [
                _verify_cell(enc, flat[a:b])
                for a, b in zip(offsets[:-1].tolist(), offsets[1:].tolist())
            ]
        else:
            # fixed-width plaintext must have its type's width
            ok[tagged] = pt_width is None or np.diff(pt_offsets) == pt_width
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
    udf = F.arrow_udf(T.BooleanType())(
        make_verify_kernel(original_type, key_id, encryptor)
    )
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
    plan; see :func:`_make_rotate_kernel`."""
    udf = F.arrow_udf(T.BinaryType())(
        _make_rotate_kernel(
            original_type, old_key_id, new_key_id, old_encryptor, new_encryptor
        )
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
