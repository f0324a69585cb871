"""LZ4 reads (core/lz4codec.py and the LZ4_RAW path of
core/compression.py), all decoded by liblz4.

Referees: hand-assembled block sequences from the block-format spec,
liblz4's own blocks and frames (pyarrow), frames with every checksum
shape from the test builder (``tests/lz4frames.py``), randomized
roundtrips including overlapping-copy territory, the container
length rules, and the mutation battery.
"""

import random

import pyarrow as pa
import pytest

from databatchprotectionservice_spark.core.compression import (
    compress,
    decompress,
)
from databatchprotectionservice_spark.core.errors import (
    DBPSInvalidInputError,
)
from databatchprotectionservice_spark.core.lz4codec import (
    _BLOCK_FRAME,
    MAX_BLOCK,
    Lz4FormatError,
    read_lz4_block,
    read_lz4_frame,
)
from databatchprotectionservice_spark.core.types import CompressionCodec

from .lz4frames import lz4_frame, xxh32

LZ4_RAW = CompressionCodec.LZ4_RAW


def test_hand_assembled_block():
    # token 0x54: 5 literals, match len 4+4=8; offset 5 -> overlap copy
    wire = bytes([0x54]) + b"abcde" + (5).to_bytes(2, "little") + bytes(
        [0x50]
    ) + b"XYZWV"
    # 5 literals, copy 8 from offset 5: abcdeabc -> then final seq:
    # token 0x50 = 5 literals (liblz4 holds blocks to the spec's
    # end-of-block rule: the last 5 bytes are literals)
    want = b"abcde" + b"abcdeabc" + b"XYZWV"
    assert decompress(wire, LZ4_RAW, len(want)) == want
    assert read_lz4_block(wire) == want


def test_overlap_rle_semantics():
    # offset 1 replicates the previous byte — the RLE idiom; the spec
    # requires the block to END on a literals-only sequence of at
    # least 5 bytes, so a final 5-literal sequence closes it
    wire = (
        bytes([0x1F]) + b"z" + (1).to_bytes(2, "little") + bytes([200])
        + bytes([0x50]) + b"!!!!!"
    )
    want = b"z" * (1 + 4 + 15 + 200) + b"!!!!!"
    assert decompress(wire, LZ4_RAW, len(want)) == want
    assert read_lz4_block(wire) == want
    # and a block ending on a match raises (the strict contract)
    with pytest.raises(DBPSInvalidInputError):
        decompress(wire[:-6], LZ4_RAW, len(want) - 5)
    with pytest.raises(Lz4FormatError):
        read_lz4_block(wire[:-6])


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"short",
        b"ab" * 1000,                      # overlap-copy heavy
        b"the quick brown fox " * 200,
        bytes(range(256)) * 8,             # incompressible-ish
        bytes(1000),                       # zero run
    ],
    ids=["empty", "short", "rle", "text", "spread", "zeros"],
)
def test_block_interop_both_directions(data):
    """liblz4 blocks written by the compression layer read back
    through both read paths: with a declared size (parquet) and
    without one (ORC)."""
    block = compress(data, LZ4_RAW)
    assert decompress(block, LZ4_RAW, len(data)) == data
    assert read_lz4_block(block) == data
    assert pa.decompress(
        block, decompressed_size=len(data), codec="lz4_raw", asbytes=True
    ) == data


def test_randomized_block_roundtrip():
    rng = random.Random(7)
    words = [b"alpha", b"beta", b"gamma", b"x", b"repetition"]
    for _ in range(100):
        data = b" ".join(
            rng.choice(words) for _ in range(rng.randrange(0, 300))
        )
        block = compress(data, LZ4_RAW)
        assert decompress(block, LZ4_RAW, len(data)) == data
        assert read_lz4_block(block) == data


def test_block_frame_header_is_pinned():
    """The ORC read wraps a raw block in this constant header: magic,
    FLG 0x60, BD 0x70 (4 MiB blocks) and the header-checksum byte
    ``(XXH32(FLG BD) >> 8) & 0xFF``.  liblz4 rejects any other byte."""
    assert _BLOCK_FRAME == bytes.fromhex("04224d18607073")
    assert (xxh32(bytes([0x60, 0x70])) >> 8) & 0xFF == 0x73
    assert MAX_BLOCK == 4 << 20
    big = b"0123456789abcdef" * (MAX_BLOCK // 16)
    assert read_lz4_block(compress(big, LZ4_RAW)) == big
    with pytest.raises(Lz4FormatError):
        read_lz4_block(compress(big + b"!", LZ4_RAW))


@pytest.mark.parametrize("bc,store", [(False, False), (True, False),
                                      (False, True), (True, True)])
def test_frame_roundtrip_variants(bc, store):
    """Block checksums and stored blocks: liblz4 reads both."""
    data = b"framed payload " * 9000
    fr = lz4_frame(data, block_checksum=bc, store=store)
    assert read_lz4_frame(fr, len(data)) == data
    assert read_lz4_frame(
        lz4_frame(data, block_checksum=bc, store=store, content_size=False),
        len(data),
    ) == data


def test_multiblock_frame():
    data = bytes((i * 13) & 0xFF for i in range(200_000))
    fr = pa.compress(data, codec="lz4", asbytes=True)
    assert fr[5] == 0x40  # 64 KiB blocks: 200000 / 65536 -> 4 blocks
    assert read_lz4_frame(fr, len(data)) == data


def test_we_read_liblz4_frames():
    data = b"liblz4 wrote this frame " * 500
    fr = pa.compress(data, codec="lz4", asbytes=True)
    assert read_lz4_frame(fr, len(data)) == data
    empty = pa.compress(b"", codec="lz4", asbytes=True)
    assert read_lz4_frame(empty, 0) == b""


def test_block_linked_frames_decode():
    """liblz4 decodes block-linked frames (FLG bit 5 clear); a frame
    of stored blocks is legal under either flag."""
    data = b"linked " * 20000
    fr = bytearray(lz4_frame(data, content_checksum=False,
                             content_size=False, store=True))
    fr[4] &= ~0x20
    fr[6] = (xxh32(bytes(fr[4:6])) >> 8) & 0xFF
    assert read_lz4_frame(bytes(fr), len(data)) == data


def test_frame_errors():
    data = b"payload " * 50
    fr = bytearray(lz4_frame(data))
    fr[-1] ^= 0xFF
    with pytest.raises(Lz4FormatError, match="contentChecksum"):
        read_lz4_frame(bytes(fr), len(data))
    fr = bytearray(lz4_frame(data, block_checksum=True))
    fr[-9] ^= 0x01  # the block checksum
    with pytest.raises(Lz4FormatError, match="blockChecksum"):
        read_lz4_frame(bytes(fr), len(data))
    fr = bytearray(lz4_frame(data))
    fr[6] ^= 0x01  # corrupt the header (content size byte)
    with pytest.raises(Lz4FormatError, match="[Hh]eader"):
        read_lz4_frame(bytes(fr), len(data))
    with pytest.raises(DBPSInvalidInputError, match="decompression failed"):
        # a match offset reaching before the block start
        decompress(bytes([0x04]) + (9).to_bytes(2, "little"), LZ4_RAW, 8)


def test_frame_length_rules():
    """One frame, exactly the declared length: liblz4's stream API
    alone reads empty input as empty content and runs on into a
    second frame."""
    data = b"declared " * 100
    fr = pa.compress(data, codec="lz4", asbytes=True)
    for bad in (b"", fr + fr, fr + b"\x00", fr[:-1]):
        with pytest.raises(Lz4FormatError):
            read_lz4_frame(bad, len(data))
    for want in (len(data) - 1, len(data) + 1, 1 << 40):
        with pytest.raises(Lz4FormatError):
            read_lz4_frame(fr, want)


def test_mutation_battery():
    rng = random.Random(107)
    data = (b"mutation target " * 60) + bytes(range(128))
    wire = lz4_frame(data, block_checksum=True)
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
            got = read_lz4_frame(bytes(b), len(data))
        except DBPSInvalidInputError:
            continue
        except (MemoryError, OverflowError, KeyError, IndexError) as e:
            pytest.fail(f"non-domain error escaped: {type(e).__name__} {e}")
        # with block AND content checksums, a surviving mutant must
        # still carry the exact content (XXH32 collisions aside)
        assert got == data
