"""Pinned ciphertext of the protect kernels.

Datasets written by an earlier build must stay readable, so the bytes of
every non-null protected cell are part of the contract. Each digest is
the sha256 of ``[u32le len][cell]`` over the non-null cells of one
seeded, nullable 4,096-row column, protected under one cipher."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import types as T

ROWS = 4096
LABELS = ("int64", "decimal", "double", "date", "string")

GOLDEN = {
    ("int64", "keystream_xor"): "4771387b9810f78656aa296431cce77f74dbde3230076929939e194d261af041",
    ("int64", "aes_siv"): "2a60b11bf0c4e5ce16248e977dfeb95b2288106a38e48d9bd53cc557cd486a35",
    ("decimal", "keystream_xor"): "84d4be2df3642561849d6eae98d629fde3f2ae03c176ad4f4f150deacc5b89a9",
    ("decimal", "aes_siv"): "7fc90741c7214f4e176b31d44c69c10b9692c91fede5bdd2e5c37297760bcf97",
    ("double", "keystream_xor"): "d644fb23f06c97e9f742f5bc3691e7d224380f461d03a122ca9776242f93944d",
    ("double", "aes_siv"): "10dad234b2434601566bf26cca25524f0f8917039cb3cdfb01e0a1aec9a3400f",
    ("date", "keystream_xor"): "13a81cf34be718951e2025f0da627372edf93de36ad67cda0f792f163b703723",
    ("date", "aes_siv"): "a3c09b3f910aa91b706e0a434451789212f4037c0f68b0a4165ccc9fd7668daf",
    ("string", "keystream_xor"): "433ca88fbf476e45a13c5108ed2d41110f9ac11895e1fc56be9cdfb3cb5ea041",
    ("string", "aes_siv"): "7158a862ba73af3050a623094b684305d795a8fb465626f39ae80333779e9220",
}


def _column(label: str) -> tuple[T.DataType, pa.Array]:
    rng = np.random.default_rng([20261019, LABELS.index(label)])
    nulls = rng.random(ROWS) < 0.1
    if label == "int64":
        values = rng.integers(-(1 << 62), 1 << 62, ROWS, dtype=np.int64)
        return T.LongType(), pa.array(values, mask=nulls)
    if label == "decimal":
        unscaled = rng.integers(-(10**11), 10**11, ROWS, dtype=np.int64)
        words = np.stack([unscaled, unscaled >> 63], axis=1)
        arr = pa.Array.from_buffers(
            pa.decimal128(12, 2),
            ROWS,
            [pa.array(~nulls).buffers()[1], pa.py_buffer(words.tobytes())],
        )
        return T.DecimalType(12, 2), arr
    if label == "double":
        return T.DoubleType(), pa.array(rng.normal(size=ROWS) * 1e6, mask=nulls)
    if label == "date":
        days = rng.integers(0, 40_000, ROWS, dtype=np.int32)
        return T.DateType(), pa.array(days, mask=nulls).cast(pa.date32())
    lengths = rng.integers(0, 70, ROWS)
    text = [
        rng.integers(32, 127, n, dtype=np.uint8).tobytes().decode() for n in lengths
    ]
    return T.StringType(), pa.array(text, pa.string(), mask=nulls)


def _digest(cells: pa.Array) -> str:
    h = hashlib.sha256()
    for cell in cells.to_pylist():
        if cell is not None:
            h.update(len(cell).to_bytes(4, "little") + cell)
    return h.hexdigest()


@pytest.mark.parametrize("label,cipher", sorted(GOLDEN))
def test_protected_cells_match_the_pinned_digest(label, cipher):
    from databatchprotectionservice_spark.functions.protect import (
        make_protect_kernel,
        make_unprotect_kernel,
    )

    spark_type, plain = _column(label)
    cells = make_protect_kernel(spark_type, f"golden_{label}", cipher)(plain)
    assert cells.null_count == plain.null_count
    assert _digest(cells) == GOLDEN[label, cipher]
    back = make_unprotect_kernel(spark_type, f"golden_{label}", cipher)(cells)
    assert back.cast(plain.type).equals(plain)
