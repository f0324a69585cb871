"""Parquet split-block Bloom filters (SBBF), from scratch.

The reference engine's scan path (``src/processing/page_utils.cpp``
decode seam) never needed probabilistic skipping because pages arrive
pre-split; at 100 TB the parquet layer DOES — a point lookup that
touches every row group of every file is a full scan in disguise.
parquet-format's BloomFilter.md defines the structure the major
writers emit for exactly this: one split-block Bloom filter per
column chunk, XXH64 over the value's PLAIN encoding, a 32-byte block
per hash with one bit set in each of its eight 32-bit lanes.

Everything here follows parquet-format BloomFilter.md, not a
library: values hash with XXH64 seed 0 (``core/bits.py``) over their
PLAIN encoding; ``block_index = ((h >> 32) * num_blocks) >> 32``
(fastrange over the TOP half); the eight published odd SALT constants
each select one bit of one lane from the LOW half; check = all eight
bits set.  Inserts OR the mask in, lookups need every lane bit — one
cache line per operation, which is why the format chose it.

The bitset is a power-of-two number of 32-byte blocks (what
parquet-mr emits), sized from an expected distinct count at ~1% false
positives.  ``core/parquetwrite.py`` serializes the
``BloomFilterHeader`` (numBytes + the three singleton unions) ahead
of the raw bitset and points ``ColumnMetaData`` fids 14/15 at it;
``parse_bloom_filter`` walks that layout back.  pyarrow 16 / DuckDB
1.0 neither write nor read parquet Bloom filters, so interop is
pinned the same way as the Gorilla codec: spec-vector unit tests plus
the oracle-gated pruning query whose in-UDF asserts forbid false
negatives against a full scan.  The txnlog point-lookup operator
keeps one filter per shard in its add-action stats the same way:
probe, then verify, so false positives die in the join.
"""

from __future__ import annotations

import struct

from .bits import xxh64
from .errors import DBPSInvalidInputError

_MASK32 = (1 << 32) - 1


# SBBF salt constants (parquet-format BloomFilter.md, verbatim)
SALTS = (
    0x47B6137B,
    0x44974D91,
    0x8824AD5B,
    0xA2B7289D,
    0x705495C7,
    0x2DF1424B,
    0x9EFC4947,
    0x5C6BFB31,
)

#: smallest / largest legal bitsets (spec: 32 bytes .. 128 MiB)
MIN_BYTES = 32
MAX_BYTES = 128 * 1024 * 1024


def plain_bytes(value, ptype: str) -> bytes:
    """A value's hash input: its PLAIN encoding with no length prefix
    (BloomFilter.md's hashing contract)."""
    if ptype == "INT32":
        return struct.pack("<i", int(value))
    if ptype == "INT64":
        return struct.pack("<q", int(value))
    if ptype == "FLOAT":
        return struct.pack("<f", float(value) + 0.0)
    if ptype == "DOUBLE":
        # +0.0 folds -0.0 into +0.0 so the two equal floats hash alike
        return struct.pack("<d", float(value) + 0.0)
    if ptype in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
        return value.encode("utf-8") if isinstance(value, str) else bytes(value)
    raise DBPSInvalidInputError(f"no bloom hashing for type {ptype}")


class SbbfError(DBPSInvalidInputError):
    """Invalid split-block Bloom parameters or serialized bytes."""


def _num_blocks(num_bytes: int) -> int:
    if num_bytes < MIN_BYTES or num_bytes > MAX_BYTES:
        raise SbbfError(
            f"bloom bitset {num_bytes} outside [{MIN_BYTES}, {MAX_BYTES}]"
        )
    if num_bytes % 32:
        raise SbbfError(
            f"bloom bitset {num_bytes} not a whole number of 32-byte blocks"
        )
    return num_bytes // 32


class SplitBlockBloomFilter:
    """One chunk's SBBF: ``num_blocks`` 32-byte blocks, each 8 u32
    lanes; one bit per lane per key.  New filters are a power-of-two
    byte count in [32 B, 128 MiB]."""

    def __init__(self, num_bytes: int):
        if num_bytes & (num_bytes - 1):
            raise SbbfError(f"bloom bitset {num_bytes} not a power of two")
        self.num_blocks = _num_blocks(num_bytes)
        self._lanes = [0] * (self.num_blocks * 8)

    @classmethod
    def for_ndv(cls, ndv: int, bits_per_value: float = 10.0):
        """Size for an expected distinct count: ~10 bits/value keeps
        the false-positive rate near 1%; blocks round up to a power
        of two (the parquet-mr convention)."""
        bits = max(256, int(ndv * bits_per_value))
        blocks = 1
        while blocks * 256 < bits and blocks * 32 < MAX_BYTES:
            blocks <<= 1
        return cls(blocks * 32)

    def _mask_at(self, h: int) -> tuple[int, list[int]]:
        block = ((h >> 32) * self.num_blocks) >> 32
        lo = h & _MASK32
        bits = [1 << (((lo * s) & _MASK32) >> 27) for s in SALTS]
        return block, bits

    def insert_hash(self, h: int) -> None:
        block, bits = self._mask_at(h)
        base = block * 8
        for i, b in enumerate(bits):
            self._lanes[base + i] |= b

    def check_hash(self, h: int) -> bool:
        block, bits = self._mask_at(h)
        base = block * 8
        return all(self._lanes[base + i] & b for i, b in enumerate(bits))

    def insert(self, value, ptype: str) -> None:
        # parquet-mr/arrow writers SKIP NaN when populating blooms
        # (NaN equality probes are meaningless and the bit pattern is
        # not canonical); mirror that, like the min/max stats' NaN
        # exclusion, so filters built here agree with other writers'
        if ptype in ("FLOAT", "DOUBLE") and float(value) != float(value):
            return
        self.insert_hash(xxh64(plain_bytes(value, ptype)))

    def might_contain(self, value, ptype: str) -> bool:
        return self.check_hash(xxh64(plain_bytes(value, ptype)))

    def to_bytes(self) -> bytes:
        """Little-endian lane words, blocks in order — the bitset
        layout of a parquet bloom-filter page body."""
        return struct.pack(f"<{len(self._lanes)}I", *self._lanes)

    @classmethod
    def from_bytes(cls, raw: bytes):
        """A serialized bitset; any whole number of 32-byte blocks in
        range reads, since other writers need not round to a power
        of two."""
        f = cls.__new__(cls)
        f.num_blocks = _num_blocks(len(raw))
        f._lanes = list(struct.unpack(f"<{len(raw) // 4}I", raw))
        return f
