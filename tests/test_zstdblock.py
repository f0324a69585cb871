"""Zstd Compressed blocks through the frame walk (core/zstdmeta.py).

The walk finds each frame's extent and libzstd (via pyarrow) decodes
its blocks.  Pinned here:

* **real libzstd frames** at five compression levels over six corpus
  shapes must decode byte-exact (1-stream and 4-stream Huffman
  literals, direct and FSE-compressed weights, Treeless reuse, all
  four sequence table modes, repeat offsets, multi-block windows);
* **hand-assembled wire vectors**, each wrapped in a frame: RLE
  literals, RLE sequence-table modes with known extra bits, the
  repeat-offset shift rules across blocks, and hostile blocks that
  must raise the domain error;
* the **mutation battery**: corrupted frames raise the domain error,
  never a non-domain crash or a hang.
"""

import random

import pyarrow as pa
import pytest

from databatchprotectionservice_spark.core.errors import (
    DBPSInvalidInputError,
)
from databatchprotectionservice_spark.core.zstdmeta import (
    ZstdFormatError,
    parse_zstd_frames,
    xxh64,
)


def _rt(orig: bytes, level: int = 3) -> None:
    blob = bytes(pa.Codec("zstd", compression_level=level).compress(orig))
    (f,) = parse_zstd_frames(blob)
    assert f["content"] == orig


def test_libzstd_referee_matrix():
    """Five levels x six corpus shapes, every frame byte-exact."""
    rng = random.Random(777)
    corpora = [
        open("/root/testdata/sf0.001/documents.parquet", "rb").read()[:80_000],
        bytes(rng.choice(b"abcdefgh\n ") for _ in range(120_000)),
        b"\x00" * 50_000 + b"A" * 20_000,  # RLE-heavy
        bytes(rng.randrange(256) for _ in range(60_000)),  # high entropy
        (b"0123456789abcdef" * 2048)
        + bytes(rng.randrange(256) for _ in range(30_000))
        + (b"0123456789abcdef" * 2048),  # long-range repeat
        "απλό unicode κείμενο – zstd " .encode() * 2_000,
    ]
    for level in (1, 3, 9, 19, 22):
        for orig in corpora:
            _rt(orig, level)


def test_multi_block_window_and_treeless_persistence():
    """>128 KiB content forces several blocks in one frame; matches and
    Treeless literals reach back across block boundaries."""
    orig = open("/root/testdata/sf0.01/lineitem.parquet", "rb").read()[:500_000]
    for level in (1, 19):
        _rt(orig, level)


def test_concatenated_frames_decode_independently():
    c = pa.Codec("zstd")
    a, b = b"first frame " * 100, b"second " * 500
    frames = parse_zstd_frames(bytes(c.compress(a)) + bytes(c.compress(b)))
    assert [f["content"] for f in frames] == [a, b]


def test_spliced_checksum_verifies_decoded_content():
    """pyarrow emits no content checksum; splicing the checksum flag
    into its frame header plus the XXH64-low32 trailer yields a frame
    whose checksum our walk must VERIFY against the entropy-decoded
    content — the end-to-end proof the decode is byte-exact."""
    orig = b"checksummed compressed content " * 300
    blob = bytearray(pa.Codec("zstd", compression_level=19).compress(orig))
    assert not blob[4] & 0x04  # pyarrow frame: no checksum flag
    blob[4] |= 0x04
    blob += (xxh64(orig, 0) & 0xFFFFFFFF).to_bytes(4, "little")
    (f,) = parse_zstd_frames(bytes(blob))
    assert any(b["type"] == "compressed" for b in f["blocks"])
    assert f["content"] == orig
    assert f["checksum_ok"] is True
    # and a WRONG trailer must raise, not pass silently
    bad = bytearray(blob)
    bad[-1] ^= 0xFF
    with pytest.raises(ZstdFormatError, match="checksum"):
        parse_zstd_frames(bytes(bad))


# ---------------------------------------------------------------------------
# wire vectors, each wrapped in a frame and decoded through the walk
# ---------------------------------------------------------------------------


def _frame(*blocks: tuple[int, bytes]) -> bytes:
    """A windowed frame (8 KiB window, no content size, no checksum)
    around (block type, payload) pairs; the last block is flagged."""
    out = bytearray((0xFD2FB528).to_bytes(4, "little"))
    out += bytes([0x00, 3 << 3])
    for i, (btype, payload) in enumerate(blocks):
        last = int(i == len(blocks) - 1)
        out += ((len(payload) << 3) | (btype << 1) | last).to_bytes(
            3, "little"
        )
        out += payload
    return bytes(out)


def _decode(*blocks: tuple[int, bytes]) -> bytes:
    (f,) = parse_zstd_frames(_frame(*blocks))
    return f["content"]


RAW, COMPRESSED = 0, 2


def test_backbits_rejects_zero_sentinel_byte():
    """A sequence bitstream whose last byte is zero has no sentinel."""
    block = bytes(
        [
            (7 << 3) | 1,  # RLE literals 'Q' x 7
            ord("Q"),
            1,
            (1 << 6) | (1 << 4) | (1 << 2),
            4,
            2,
            0,
            0xFF,
            0x00,  # final bitstream byte without the sentinel bit
        ]
    )
    with pytest.raises(ZstdFormatError, match="libzstd"):
        _decode((COMPRESSED, block))


def test_fse_description_rle_literals_and_sequences_vector():
    """A fully hand-assembled Compressed block: RLE literals ('Q' x 7),
    one sequence with all three channels in RLE table mode.  Codes:
    ll_code=4 (literal length 4, no extra bits), of_code=2 (offset
    value = 4 + 2 extra bits), ml_code=0 (match length 3).  The
    backward bitstream holds only the 2 offset extra bits (=0b10 ->
    offset_value 6 -> real offset 3) and the sentinel."""
    block = bytes(
        [
            # literals: RLE type (1), size_format 0 -> regen in 5 bits
            (7 << 3) | (0 << 2) | 1,
            ord("Q"),
            1,  # Number_of_Sequences = 1
            # modes: LL=RLE(1) OF=RLE(1) ML=RLE(1), low bits 0
            (1 << 6) | (1 << 4) | (1 << 2),
            4,  # LL RLE symbol
            2,  # OF RLE symbol
            0,  # ML RLE symbol
            # backward bitstream byte: sentinel above the 2 extra bits
            0b00000110,  # sentinel at bit 2, extra bits 0b10
        ]
    )
    # 4 literals, then a 3-byte match at offset 3 ('QQQ' again), then
    # the remaining 3 literals
    assert _decode((COMPRESSED, block)) == b"QQQQ" + b"QQQ" + b"QQQ"


def test_repeat_offset_shift_rules():
    """offset_value 1 against the [1,4,8] initial history, with the
    literals_length==0 shift, reaching back into a prior Raw block."""
    # one sequence: ll=0 (code 0), of_code=0 -> offset_value 1; with
    # ll==0 that selects rep2 (=4)
    lits = b"ABCDEFGH"
    block = bytes(
        [
            (len(lits) << 3) | 0,  # raw literals, 5-bit size
            *lits,
            1,
            (1 << 6) | (1 << 4) | (1 << 2),
            0,  # LL symbol 0 -> literal length 0
            0,  # OF symbol 0 -> offset_value 1
            2,  # ML symbol 2 -> match length 5
            0b00000001,  # empty bitstream: just the sentinel
        ]
    )
    # ll=0 & offset_value=1 -> rep2=4: copy 5 bytes from 4 back, i.e.
    # the Raw block's tail '0123' then self-reference '0'
    out = _decode((RAW, b"wxyz0123"), (COMPRESSED, block))
    assert out == b"wxyz0123" + b"01230" + lits


def _compressed_literals(regen: int, tree_and_stream: bytes) -> bytes:
    """Huffman literals, one stream, 10-bit sizes, then no sequences."""
    head = 2 | (regen << 4) | (len(tree_and_stream) << 14)
    return head.to_bytes(3, "little") + tree_and_stream + b"\x00"


def test_huffman_invalid_weights_raise():
    # direct weights [1,1,1,1,1]: total 5 -> table 8 -> rest 3, not a
    # power of two -> no implicit last weight exists
    block = _compressed_literals(
        4, bytes([127 + 5, 0x11, 0x11, 0x10, 0x00, 0x01])
    )
    with pytest.raises(ZstdFormatError, match="libzstd"):
        _decode((COMPRESSED, block))
    # a weight of 12 is over the format's maximum
    block = _compressed_literals(4, bytes([127 + 2, (12 << 4) | 1, 0x01]))
    with pytest.raises(ZstdFormatError, match="libzstd"):
        _decode((COMPRESSED, block))


def test_treeless_without_history_raises():
    # literals type 3 (Treeless), size_format 0, sizes 0
    block = bytes([3 | (0 << 2), 0, 0, 0])
    with pytest.raises(ZstdFormatError, match="libzstd"):
        _decode((COMPRESSED, block))


def test_sequence_repeat_mode_without_history_raises():
    block = bytes(
        [
            (1 << 3) | 0,  # raw literal 'x'
            ord("x"),
            1,  # one sequence
            (3 << 6) | (3 << 4) | (3 << 2),  # all Repeat_Mode
            1,
        ]
    )
    with pytest.raises(ZstdFormatError, match="libzstd"):
        _decode((COMPRESSED, block))


def test_literal_overconsumption_raises():
    block = bytes(
        [
            (2 << 3) | 0,  # raw literals 'ab'
            ord("a"),
            ord("b"),
            1,
            (1 << 6) | (1 << 4) | (1 << 2),
            10,  # LL symbol 10 -> wants 10 literals, only 2 exist
            0,
            0,
            0b00000001,
        ]
    )
    with pytest.raises(ZstdFormatError, match="libzstd"):
        _decode((COMPRESSED, block))


def test_match_before_frame_start_raises():
    block = bytes(
        [
            (1 << 3) | 0,
            ord("x"),
            1,
            (1 << 6) | (1 << 4) | (1 << 2),
            1,   # ll=1
            10,  # of_code 10 -> offset_value 1024+bits -> way back
            0,
            # backward bitstream: 10 zero extra bits + the sentinel
            # (offset_value 1024 -> offset 1021, far before the frame)
            0x00,
            0b00000100,
        ]
    )
    with pytest.raises(ZstdFormatError, match="libzstd"):
        _decode((COMPRESSED, block))


def test_mutation_battery_compressed_frames():
    """3000 corrupted real frames: the decoder must raise the domain
    error or (rarely) succeed on a still-valid frame — never crash."""
    rng = random.Random(4242)
    orig = open("/root/testdata/sf0.001/documents.parquet", "rb").read()[:30_000]
    wire = bytes(pa.Codec("zstd", compression_level=19).compress(orig))
    for _ in range(3000):
        b = bytearray(wire)
        for _ in range(rng.randint(1, 4)):
            op = rng.randrange(3)
            if op == 0 and b:
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            elif op == 1 and len(b) > 1:
                del b[rng.randrange(len(b) - 1) :]
            else:
                b.insert(rng.randrange(len(b) + 1), rng.randrange(256))
        try:
            parse_zstd_frames(bytes(b))
        except DBPSInvalidInputError:
            continue
        except (MemoryError, OverflowError, KeyError, IndexError) as e:
            pytest.fail(f"non-domain error escaped: {type(e).__name__} {e}")
