"""Split-block Bloom filter (core/bloomfilter.py), pinned from the spec.

The block mapping and lane masks are pinned by hand-computed vectors
straight from the spec arithmetic (independent of the implementation,
read back through the serialized lanes); the no-false-negative
contract is exhaustively checked; serialization roundtrips; false-
positive rates stay sane at the spec's design load; one fixed vector
pins the serialized bitset byte for byte.
"""

import random
import struct

import pytest

from databatchprotectionservice_spark.core.bits import xxh64
from databatchprotectionservice_spark.core.bloomfilter import (
    SALTS,
    SbbfError,
    SplitBlockBloomFilter,
)


def _mask_ref(x):
    """Scalar reference for the lane masks, from the spec text."""
    return [
        1 << (((x * SALTS[i]) & 0xFFFFFFFF) >> 27) for i in range(8)
    ]


def _blocks(f):
    """Serialized bitset -> one list of eight u32 lanes per block."""
    lanes = struct.unpack(f"<{len(f.to_bytes()) // 4}I", f.to_bytes())
    return [list(lanes[i : i + 8]) for i in range(0, len(lanes), 8)]


def test_hand_computed_block_and_mask():
    f = SplitBlockBloomFilter(64)  # 2 blocks
    h = xxh64((12345).to_bytes(8, "little", signed=True), 0)
    want_block = ((h >> 32) * 2) >> 32
    f.insert(12345, "INT64")
    blocks = _blocks(f)
    assert sum(blocks[1 - want_block]) == 0  # only one block touched
    assert blocks[want_block] == _mask_ref(h & 0xFFFFFFFF)


def test_no_false_negatives():
    rng = random.Random(3)
    f = SplitBlockBloomFilter(1024)
    values = [rng.randrange(-(2**62), 2**62) for _ in range(300)]
    for v in values:
        f.insert(v, "INT64")
    assert all(f.might_contain(v, "INT64") for v in values)


def test_false_positive_rate_sane():
    rng = random.Random(5)
    f = SplitBlockBloomFilter(1024)  # 256 slots' worth of lanes for 100 keys
    inserted = set(range(100))
    for v in inserted:
        f.insert(v, "INT64")
    probes = [rng.randrange(10**6, 10**9) for _ in range(5000)]
    fp = sum(f.might_contain(p, "INT64") for p in probes)
    assert fp / 5000 < 0.02  # far under the spec's 1% design point


def test_bytes_roundtrip():
    f = SplitBlockBloomFilter(256)
    for v in [0, -1, 2**40, -(2**40)]:
        f.insert(v, "INT64")
    g = SplitBlockBloomFilter.from_bytes(f.to_bytes())
    assert g.to_bytes() == f.to_bytes()
    assert all(g.might_contain(v, "INT64") for v in [0, -1, 2**40, -(2**40)])
    assert len(f.to_bytes()) == 256


def test_byte_array_hashing():
    f = SplitBlockBloomFilter(64)
    f.insert_hash(xxh64(b"hello"))
    assert f.check_hash(xxh64(b"hello"))
    assert f.might_contain(b"hello", "BYTE_ARRAY")
    assert not f.check_hash(xxh64(b"other"))


def test_size_validation():
    for bad in [0, 16, 33, 48, 96]:
        with pytest.raises(SbbfError):
            SplitBlockBloomFilter(bad)
    with pytest.raises(SbbfError):
        SplitBlockBloomFilter.from_bytes(bytes(48))


def test_from_bytes_reads_whole_blocks_that_are_not_a_power_of_two():
    # other writers need not round the bitset up; a 3-block filter
    # must still read (the constructor only makes power-of-two sizes)
    g = SplitBlockBloomFilter.from_bytes(bytes(96))
    assert g.num_blocks == 3 and g.to_bytes() == bytes(96)
    with pytest.raises(SbbfError):
        SplitBlockBloomFilter.from_bytes(bytes(16))


def test_fixed_vector_bytes():
    """Known int64s and strings into a 64-byte filter, pinned byte for
    byte: txnlog add actions and parquet bloom pages store these bytes,
    so files written before must keep reading the same way."""
    f = SplitBlockBloomFilter(64)
    for v in [0, 1, -1, 12345, 2**40, -(2**62), 2**63 - 1]:
        f.insert(v, "INT64")
    for s in ["", "hello", "user-7"]:
        f.insert(s, "BYTE_ARRAY")
    assert f.to_bytes().hex() == (
        "0002500000020404002402008000000a10820000002000908040001000400028"
        "4404102a216840022c080022800403103040012404804a28441014200801804a"
    )
