"""Enum conversion + compression codec suites.

Mirrors ``enum_utils_test.cpp`` (string<->enum lookup incl. negatives)
and ``compression_utils_test.cpp`` (snappy round-trip, unsupported
codecs throw).
"""

import pytest

from databatchprotectionservice_spark.core import compression as comp
from databatchprotectionservice_spark.core.errors import (
    DBPSError,
    DBPSInvalidInputError,
    DBPSUnsupportedError,
)
from databatchprotectionservice_spark.core.types import (
    CompressionCodec,
    Encoding,
    PhysicalType,
    to_compression_codec,
    to_encoding,
    to_physical_type,
)


def test_all_physical_types_round_trip_by_name():
    for t in PhysicalType:
        assert to_physical_type(t.name) is t


def test_all_compression_codecs_round_trip_by_name():
    for c in CompressionCodec:
        assert to_compression_codec(c.name) is c


def test_all_encodings_round_trip_by_name():
    for e in Encoding:
        assert to_encoding(e.name) is e


@pytest.mark.parametrize(
    "fn", [to_physical_type, to_compression_codec, to_encoding]
)
def test_unknown_enum_names_raise(fn):
    for bad in ("", "NOPE", "SNAPPY "):
        with pytest.raises((ValueError, DBPSError)):
            fn(bad)


def test_enum_lookup_is_case_insensitive():
    assert to_physical_type("int32") is PhysicalType.INT32
    assert to_compression_codec("snappy") is CompressionCodec.SNAPPY
    assert to_encoding("plain") is Encoding.PLAIN


def test_reference_enum_sets_present():
    """The reference's enums.h lists these members; all must exist."""
    for name in (
        "BOOLEAN INT32 INT64 INT96 FLOAT DOUBLE BYTE_ARRAY "
        "FIXED_LEN_BYTE_ARRAY"
    ).split():
        assert to_physical_type(name) is not None
    for name in "UNCOMPRESSED SNAPPY GZIP BROTLI ZSTD LZ4".split():
        assert to_compression_codec(name) is not None
    for name in "PLAIN RLE RLE_DICTIONARY BIT_PACKED".split():
        assert to_encoding(name) is not None


def test_snappy_round_trip():
    data = b"hello snappy " * 1000
    ct = comp.compress(data, CompressionCodec.SNAPPY)
    assert ct != data and len(ct) < len(data)
    assert comp.decompress(ct, CompressionCodec.SNAPPY) == data


def test_uncompressed_is_identity():
    data = b"\x00\x01\x02" * 100
    assert comp.compress(data, CompressionCodec.UNCOMPRESSED) == data
    assert comp.decompress(data, CompressionCodec.UNCOMPRESSED) == data


def test_empty_payload_round_trip():
    for codec in (CompressionCodec.UNCOMPRESSED, CompressionCodec.SNAPPY):
        assert comp.decompress(comp.compress(b"", codec), codec) == b""


def test_gzip_round_trip():
    """Beyond reference parity: GZIP is real here (zlib-backed)."""
    data = b"gzip payload " * 500
    assert comp.decompress(comp.compress(data, CompressionCodec.GZIP),
                           CompressionCodec.GZIP) == data


@pytest.mark.parametrize(
    "codec",
    [CompressionCodec.ZSTD, CompressionCodec.BROTLI, CompressionCodec.LZ4_RAW],
)
def test_sized_codecs_round_trip_with_known_size(codec):
    """ZSTD/BROTLI/LZ4_RAW work when the caller supplies the decompressed
    size; without it they raise Unsupported (-> per-block fallback)."""
    data = b"sized codec payload " * 200
    ct = comp.compress(data, codec)
    assert comp.decompress(ct, codec, uncompressed_size=len(data)) == data
    with pytest.raises(DBPSUnsupportedError):
        comp.decompress(ct, codec)


@pytest.mark.parametrize(
    "codec",
    [CompressionCodec.LZ4_RAW, CompressionCodec.BROTLI, CompressionCodec.SNAPPY],
    ids=lambda c: c.name,
)
def test_declared_size_is_exact(codec):
    """pyarrow zero-pads a stream that decodes short of the size it is
    given; a declared size (a parquet page header's) must match the
    stream exactly, over or under."""
    data = bytes(range(256)) * 133
    ct = comp.compress(data, codec)
    assert comp.decompress(ct, codec, len(data)) == data
    for size in (len(data) + 100, len(data) + 1, len(data) - 1):
        with pytest.raises(DBPSInvalidInputError):
            comp.decompress(ct, codec, size)


def test_lz4_raw_page_decodes_only_at_its_exact_length():
    """An LZ4_RAW page decodes to exactly its declared size: a stream cut
    short and an over-declared one both raise, an exact one decodes."""
    data = b"lz4 raw page " * 4000 + bytes(range(256))
    ct = comp.compress(data, CompressionCodec.LZ4_RAW)
    assert comp.decompress(ct, CompressionCodec.LZ4_RAW, len(data)) == data
    with pytest.raises(DBPSInvalidInputError):
        comp.decompress(ct[: len(ct) // 2], CompressionCodec.LZ4_RAW, len(data))
    with pytest.raises(DBPSInvalidInputError):
        comp.decompress(ct, CompressionCodec.LZ4_RAW, len(data) + 4096)


@pytest.mark.parametrize(
    "codec",
    [
        CompressionCodec.LZO,
        CompressionCodec.LZ4,
        CompressionCodec.BZ2,
        CompressionCodec.LZ4_HADOOP,
    ],
)
def test_unsupported_codecs_raise(codec):
    """These stay unsupported like the reference
    (compression_utils.cpp:26-82), exercising per-block fallback."""
    with pytest.raises(DBPSUnsupportedError):
        comp.compress(b"data", codec)
    with pytest.raises(DBPSUnsupportedError):
        comp.decompress(b"data", codec)


def test_corrupt_snappy_raises_invalid():
    with pytest.raises(DBPSError):
        comp.decompress(b"\xff\xff\xff\xffgarbage", CompressionCodec.SNAPPY)


def test_decompression_bombs_refused_before_allocation():
    """A tiny page claiming a gigantic uncompressed size must raise
    DBPSInvalidInputError BEFORE pyarrow/zlib preallocate the claimed
    buffer (snappy's varint admits 2^35-1; zlib expands ~1032:1)."""
    import pytest

    from databatchprotectionservice_spark.core.compression import (
        decompress,
    )
    from databatchprotectionservice_spark.core.errors import (
        DBPSInvalidInputError,
    )
    from databatchprotectionservice_spark.core.types import CompressionCodec

    def uleb(n: int) -> bytes:
        out = b""
        while True:
            b7 = n & 0x7F
            n >>= 7
            out += bytes([b7 | (0x80 if n else 0)])
            if not n:
                return out

    bomb = uleb(8 << 30) + b"\x00\x00"  # claims 8 GiB from 7 bytes
    with pytest.raises(DBPSInvalidInputError, match="implausible"):
        decompress(bomb, CompressionCodec.SNAPPY)
    # explicit oversized claim takes the same guard
    with pytest.raises(DBPSInvalidInputError, match="implausible"):
        decompress(b"\x00" * 16, CompressionCodec.ZSTD,
                   uncompressed_size=2 << 30)


def test_oversized_max_def_level_is_rejected():
    """bit widths past 32 previously hit undefined-behavior uint32
    shifts in the vectorized level gather and counted WRONG levels
    instead of rejecting the page."""
    import pytest

    from databatchprotectionservice_spark.core.errors import (
        DBPSInvalidInputError,
    )
    from databatchprotectionservice_spark.core.pagecodec import (
        count_present_values_v1,
    )

    with pytest.raises(DBPSInvalidInputError, match="out of range"):
        count_present_values_v1(bytes([0x03]) + b"\xff" * 100, 8, 2**40)
