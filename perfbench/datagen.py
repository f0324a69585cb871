"""Seeded inputs: the protected-dataset table, its exact aggregates, and
the six-page row group the page service protects.

Everything here is a pure function of ``(seed, index)``; the program
under test only ever sees the generated values."""

from __future__ import annotations

import decimal
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

NULL_SHARE = 0.05
DOMAINS = ("example.org", "mail.example.com", "corp.example.net", "x.io")

#: the generated table's columns, in order
COLUMNS = ("id", "amount", "score", "day", "email")


def _rng(seed: int, index: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, index, salt])


def _validity(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.random(n) >= NULL_SHARE


def _bitmap(valid: np.ndarray) -> pa.Buffer:
    return pa.array(valid, pa.bool_()).buffers()[1]


def make_table(seed: int, index: int, rows: int) -> pa.Table:
    """One batch of the generated table. Every column is nullable.

    * ``id``: int64 within +-2^40, so any sum of a batch fits in int64;
    * ``amount``: decimal(12,2);
    * ``score``: double, a multiple of 1/4 below 2^28, so sums are exact
      in any order and the read-back check can demand equality;
    * ``day``: date;
    * ``email``: 10 to 40 byte e-mail-like strings.
    """
    rng = _rng(seed, index, 0)
    n = rows
    ids = rng.integers(-(1 << 40), 1 << 40, n, dtype=np.int64)
    id_ok = _validity(rng, n)
    unscaled = rng.integers(-(10**11), 10**11, n, dtype=np.int64)
    amount_ok = _validity(rng, n)
    words = np.empty((n, 2), dtype=np.int64)
    words[:, 0] = unscaled
    words[:, 1] = unscaled >> 63  # two's-complement sign extension
    amount = pa.Array.from_buffers(
        pa.decimal128(12, 2),
        n,
        [_bitmap(amount_ok), pa.py_buffer(words.tobytes())],
        null_count=int(n - amount_ok.sum()),
    )
    score = rng.integers(-(1 << 30), 1 << 30, n, dtype=np.int64) / 4.0
    score_ok = _validity(rng, n)
    day = rng.integers(0, 20_000, n, dtype=np.int32)
    day_ok = _validity(rng, n)
    letters = rng.integers(ord("a"), ord("z") + 1, (n, 16), dtype=np.uint8)
    local_len = rng.integers(4, 17, n)
    number = rng.integers(0, 100_000, n)
    domain = rng.integers(0, len(DOMAINS), n)
    email_ok = _validity(rng, n)
    emails = [
        f"{letters[i, : local_len[i]].tobytes().decode()}.{number[i]}@{DOMAINS[domain[i]]}"
        for i in range(n)
    ]
    return pa.table(
        {
            "id": pa.array(ids, mask=~id_ok),
            "amount": amount,
            "score": pa.array(score, mask=~score_ok),
            "day": pa.array(day, mask=~day_ok).cast(pa.date32()),
            "email": pa.array(emails, pa.string(), mask=~email_ok),
        }
    )


def plaintext_bytes(arr: pa.Array) -> int:
    """Bytes of plaintext a protect call encrypts: the value width of each
    non-null fixed-width cell, or the byte length of each string."""
    if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        return int(pc.sum(pc.binary_length(arr)).as_py() or 0)
    return (len(arr) - arr.null_count) * arr.type.bit_width // 8


def table_bytes(table: pa.Table) -> int:
    return sum(
        plaintext_bytes(col.combine_chunks()) for col in table.itercolumns()
    )


def expected_aggregates(table: pa.Table) -> dict:
    """Exact aggregates of the plaintext, named like the read-back query's
    output columns (see ``wl_dataset.aggregates``)."""
    out = {"rows": table.num_rows}
    for name in COLUMNS:
        col = table.column(name).combine_chunks()
        out[f"{name}_count"] = len(col) - col.null_count
    vals = [v for v in table.column("id").to_pylist() if v is not None]
    out["id_sum"] = sum(vals)
    out["amount_sum"] = sum(
        (v for v in table.column("amount").to_pylist() if v is not None),
        decimal.Decimal(0),
    )
    out["score_sum"] = sum(
        v for v in table.column("score").to_pylist() if v is not None
    )
    days = table.column("day").cast(pa.int32()).to_pylist()
    out["day_sum"] = sum(v for v in days if v is not None)
    emails = [v for v in table.column("email").to_pylist() if v is not None]
    out["email_len_sum"] = sum(len(v) for v in emails)
    out["email_crc_sum"] = sum(zlib.crc32(v.encode()) for v in emails)
    return out


# ---------------------------------------------------------------------------
# the page service's row group
# ---------------------------------------------------------------------------

PAGE_VALUES = 10_000
FLBA_WIDTH = 16

#: (name, page kind, physical type, codec, encoding, nullable, expected mode)
#: The six scenarios of the reference ``performance_test``; the last one
#: is the RLE_DICTIONARY page that takes the per-block fallback.
PAGE_SPECS = (
    ("v1_uncompressed_plain", "v1", "INT32", "UNCOMPRESSED", "PLAIN", True, "per_value"),
    ("dict_snappy_plain", "dict", "DOUBLE", "SNAPPY", "PLAIN", False, "per_value"),
    ("dict_uncompressed_plain", "dict", "FIXED_LEN_BYTE_ARRAY", "UNCOMPRESSED", "PLAIN", False, "per_value"),
    ("v1_snappy_plain", "v1", "INT64", "SNAPPY", "PLAIN", True, "per_value"),
    ("v2_snappy_plain", "v2", "BYTE_ARRAY", "SNAPPY", "PLAIN", True, "per_value"),
    ("v1_fallback_rle_dict", "v1", "INT32", "UNCOMPRESSED", "RLE_DICTIONARY", True, "per_block"),
)


def _page_values(rng: np.random.Generator, physical: str, n: int) -> list:
    if physical == "INT32":
        return rng.integers(-(1 << 31), 1 << 31, n, dtype=np.int64).tolist()
    if physical == "INT64":
        return rng.integers(-(1 << 62), 1 << 62, n, dtype=np.int64).tolist()
    if physical == "DOUBLE":
        return (rng.standard_normal(n) * 1e6).tolist()
    if physical == "FIXED_LEN_BYTE_ARRAY":
        raw = rng.integers(0, 256, (n, FLBA_WIDTH), dtype=np.uint8)
        return [raw[i].tobytes() for i in range(n)]
    letters = rng.integers(ord("a"), ord("z") + 1, (n, 16), dtype=np.uint8)
    lens = rng.integers(4, 17, n)
    dom = rng.integers(0, len(DOMAINS), n)
    return [
        f"{letters[i, : lens[i]].tobytes().decode()}@{DOMAINS[dom[i]]}"
        for i in range(n)
    ]


def make_pages(seed: int, index: int) -> list[dict]:
    """One row group: six pages of ``PAGE_VALUES`` slots each, as
    ``{name, payload, attrs, datatype, length, codec, encoding, mode}``
    with enum-valued fields. Page bytes come from the repository's own
    page builders (``tests/pagebuilders.py``)."""
    from databatchprotectionservice_spark.core.types import (
        CompressionCodec,
        Encoding,
        PhysicalType,
    )
    from tests.pagebuilders import build_dict_page, build_v1_page, build_v2_page

    pages = []
    for k, (name, kind, physical, codec, encoding, nullable, mode) in enumerate(
        PAGE_SPECS
    ):
        rng = _rng(seed, index, 100 + k)
        dtype = PhysicalType[physical]
        cc = CompressionCodec[codec]
        length = FLBA_WIDTH if physical == "FIXED_LEN_BYTE_ARRAY" else None
        mask = None
        n_present = PAGE_VALUES
        if nullable:
            mask = (rng.random(PAGE_VALUES) >= NULL_SHARE).tolist()
            n_present = sum(mask)
        values = _page_values(rng, physical, n_present)
        if kind == "v1":
            payload, attrs = build_v1_page(values, dtype, cc, mask, length)
        elif kind == "v2":
            payload, attrs = build_v2_page(values, dtype, cc, mask, length)
        else:
            payload, attrs = build_dict_page(values, dtype, cc, length)
        pages.append(
            {
                "name": name,
                "payload": payload,
                "attrs": dict(attrs, page_encoding=encoding),
                "datatype": dtype,
                "length": length,
                "codec": cc,
                "encoding": Encoding[encoding],
                "mode": mode,
            }
        )
    return pages
