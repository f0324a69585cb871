"""Wire-format tests, porting the intent of ``typed_buffer_test.cpp`` and
``bytes_utils_test.cpp`` (construct/parse, malformed-buffer rejection,
length-prefix join/split)."""

import struct

import numpy as np
import pytest

from databatchprotectionservice_spark.core.errors import DBPSInvalidInputError
from databatchprotectionservice_spark.core.wire import (
    TAG_FIXED,
    TAG_VARIABLE,
    arrow_to_bytes_list,
    bytes_list_to_arrow,
    join_with_length_prefix,
    read_value_list,
    split_with_length_prefix,
    write_value_list,
)


def roundtrip(values, fixed_size):
    flat, offsets = bytes_list_to_arrow(values)
    wire = write_value_list(flat, offsets, fixed_size)
    flat2, offsets2, fixed2 = read_value_list(wire)
    assert fixed2 == fixed_size
    assert arrow_to_bytes_list(flat2, offsets2) == values
    return wire


def test_fixed_roundtrip():
    values = [np.int32(v).tobytes() for v in [0, 1, -1, 2**31 - 1]]
    wire = roundtrip(values, 4)
    assert wire[0] == TAG_FIXED
    assert len(wire) == 1 + 4 + 4 + 16


def test_variable_roundtrip():
    values = [b"", b"a", "héllo".encode(), b"\x00" * 100]
    wire = roundtrip(values, None)
    assert wire[0] == TAG_VARIABLE
    # [tag][u32 count] then [u32 len][bytes] per element, little-endian
    assert wire == bytes([TAG_VARIABLE]) + struct.pack("<I", 4) + b"".join(
        struct.pack("<I", len(v)) + v for v in values
    )


def test_empty_batches():
    roundtrip([], 8)
    roundtrip([], None)


def test_fixed_size_mismatch_rejected():
    flat, offsets = bytes_list_to_arrow([b"abc"])
    with pytest.raises(DBPSInvalidInputError):
        write_value_list(flat, offsets, 4)


def test_truncated_variable_rejected():
    flat, offsets = bytes_list_to_arrow([b"hello"])
    wire = write_value_list(flat, offsets, None)
    with pytest.raises(DBPSInvalidInputError):
        read_value_list(wire[:-2])


def test_trailing_bytes_rejected():
    flat, offsets = bytes_list_to_arrow([b"hello"])
    wire = write_value_list(flat, offsets, None)
    with pytest.raises(DBPSInvalidInputError):
        read_value_list(wire + b"xx")


def test_fixed_body_mismatch_rejected():
    flat, offsets = bytes_list_to_arrow([b"12345678"])
    wire = write_value_list(flat, offsets, 8)
    with pytest.raises(DBPSInvalidInputError):
        read_value_list(wire[:-1])


def test_unknown_tag_rejected():
    with pytest.raises(DBPSInvalidInputError):
        read_value_list(b"\x07\x00\x00\x00\x00")


def test_length_prefix_join_split():
    a, b = b"levels-bytes", b"values-bytes"
    joined = join_with_length_prefix(a, b)
    assert joined[:4] == len(a).to_bytes(4, "little")
    assert split_with_length_prefix(joined) == (a, b)
    # empty halves
    assert split_with_length_prefix(join_with_length_prefix(b"", b"x")) == (b"", b"x")
    assert split_with_length_prefix(join_with_length_prefix(b"x", b"")) == (b"x", b"")


def test_truncated_length_prefix_rejected():
    with pytest.raises(DBPSInvalidInputError):
        split_with_length_prefix(b"\xff\xff\xff\xff")
    with pytest.raises(DBPSInvalidInputError):
        split_with_length_prefix(b"\x01")


def test_hostile_counts_are_domain_errors():
    """Attacker-reachable counts (page metadata) must fail as
    DBPSInvalidInputError before any allocation: a negative count
    previously under-allocated ahead of the native writer's first
    store (heap OOB) or escaped as raw ValueError, and a huge one as
    raw MemoryError."""
    import pytest

    from databatchprotectionservice_spark.core.errors import (
        DBPSInvalidInputError,
    )
    from databatchprotectionservice_spark.core.wire import (
        parse_length_prefixed,
    )

    for count in (-1, -3, 10**16):
        with pytest.raises(DBPSInvalidInputError, match="impossible"):
            parse_length_prefixed(b"\x00\x00\x00\x00", count)
