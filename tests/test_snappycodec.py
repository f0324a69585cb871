"""Snappy raw blocks through ``core/compression.py`` (C++ snappy in
both directions).

Pinned: hand-assembled elements from the format description (every
literal length escape, all three copy tags, overlap replication),
interop with pyarrow's snappy in both directions, randomized
roundtrips, the length contract, and the mutation battery — the
decode path must raise the domain error on every corrupted block.
"""

import random

import pyarrow as pa
import pytest

from databatchprotectionservice_spark.core.bits import uleb128
from databatchprotectionservice_spark.core.compression import (
    compress,
    decompress,
)
from databatchprotectionservice_spark.core.errors import (
    DBPSInvalidInputError,
)
from databatchprotectionservice_spark.core.types import CompressionCodec


def _decode_snappy(data: bytes) -> bytes:
    return decompress(data, CompressionCodec.SNAPPY)


def test_hand_assembled_elements():
    # preamble 5; literal "ab"; copy-1 len 4 offset 2; final literal "Z"
    wire = bytes([7]) + bytes([1 << 2]) + b"ab" + bytes(
        [1 | (0 << 2) | (0 << 5), 2]
    ) + bytes([0 << 2]) + b"Z"
    assert _decode_snappy(wire) == b"ab" + b"abab" + b"Z"
    # copy-2: len 5, offset 3 after 3 literals -> overlap replication
    wire = bytes([8]) + bytes([2 << 2]) + b"xyz" + bytes(
        [2 | (4 << 2)]
    ) + (3).to_bytes(2, "little")
    assert _decode_snappy(wire) == b"xyz" + b"xyzxy"
    # copy-4 decodes too
    wire = bytes([8]) + bytes([2 << 2]) + b"xyz" + bytes(
        [3 | (4 << 2)]
    ) + (3).to_bytes(4, "little")
    assert _decode_snappy(wire) == b"xyz" + b"xyzxy"


def _literal(body: bytes) -> bytes:
    """One literal element: lengths up to 60 in the tag, longer ones
    in 1-4 little-endian bytes behind tags 60-63."""
    n = len(body) - 1
    if n < 60:
        return bytes([n << 2]) + body
    width = (n.bit_length() + 7) // 8
    return bytes([(59 + width) << 2]) + n.to_bytes(width, "little") + body


def test_literal_length_escapes():
    for lit in [59, 60, 61, 255, 256, 70000]:
        body = bytes((i * 3) & 0xFF for i in range(lit))
        wire = uleb128(lit) + _literal(body)
        assert _decode_snappy(wire) == body
        assert pa.decompress(
            wire, decompressed_size=lit, codec="snappy", asbytes=True
        ) == body


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"x",
        b"ab" * 1000,
        b"the quick brown fox " * 200,
        bytes(range(256)) * 8,
        bytes(2000),
    ],
    ids=["empty", "one", "rle", "text", "spread", "zeros"],
)
def test_interop_both_directions(data):
    ours = compress(data, CompressionCodec.SNAPPY)
    assert _decode_snappy(ours) == data
    assert pa.decompress(
        ours, decompressed_size=len(data), codec="snappy", asbytes=True
    ) == data
    assert _decode_snappy(
        pa.compress(data, codec="snappy", asbytes=True)
    ) == data


def test_randomized_roundtrip():
    rng = random.Random(19)
    words = [b"alpha", b"beta", b"gamma", b"pages", b"snappy"]
    for _ in range(150):
        data = b"-".join(
            rng.choice(words) for _ in range(rng.randrange(0, 250))
        )
        assert _decode_snappy(compress(data, CompressionCodec.SNAPPY)) == data


def test_compression_module_cross_validation():
    """The page path's compressor and pyarrow's snappy are
    interchangeable on a real page payload (documents column bytes)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["text"]
    )
    payload = b"".join(
        (v or "").encode() for v in t["text"].to_pylist()[:2000]
    )
    via_module = compress(payload, CompressionCodec.SNAPPY)
    assert _decode_snappy(via_module) == payload
    theirs = pa.compress(payload, codec="snappy", asbytes=True)
    assert decompress(theirs, CompressionCodec.SNAPPY) == payload


def test_length_contract_and_errors():
    # preamble declares 9, the block regenerates 2
    with pytest.raises(DBPSInvalidInputError, match="Corrupt snappy"):
        _decode_snappy(bytes([9]) + bytes([1 << 2]) + b"ab")
    # preamble declares 1, the literal carries 3
    with pytest.raises(DBPSInvalidInputError, match="Corrupt snappy"):
        _decode_snappy(bytes([1]) + bytes([2 << 2]) + b"abc")
    # copy offset 9 reaches before the block start
    with pytest.raises(DBPSInvalidInputError, match="Corrupt snappy"):
        _decode_snappy(
            bytes([5]) + bytes([0 << 2]) + b"a"
            + bytes([2 | (3 << 2)]) + (9).to_bytes(2, "little")
        )
    with pytest.raises(DBPSInvalidInputError, match="length varint"):
        _decode_snappy(b"")


def test_mutation_battery():
    rng = random.Random(113)
    wire = compress(
        (b"mutate me " * 80) + bytes(range(200)), CompressionCodec.SNAPPY
    )
    for _ in range(3000):
        b = bytearray(wire)
        for _ in range(rng.randint(1, 4)):
            op = rng.randrange(3)
            if op == 0 and b:
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            elif op == 1 and len(b) > 1:
                del b[rng.randrange(len(b) - 1):]
            else:
                b.insert(rng.randrange(len(b) + 1), rng.randrange(256))
        try:
            _decode_snappy(bytes(b))
        except DBPSInvalidInputError:
            continue
        except (MemoryError, OverflowError, IndexError, KeyError) as e:
            pytest.fail(f"non-domain error escaped: {type(e).__name__} {e}")
