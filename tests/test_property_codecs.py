"""Property-based round-trips (hypothesis) for the format codecs.

Extends the reference-style exhaustive-roundtrip discipline
(``test_property_roundtrip.py``) to the container/serialization
codecs staged this round: for ARBITRARY generated values, the decode
of an encode is the identity — including the LZ4 and snappy read
paths over liblz4's and C++ snappy's output.
"""

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from databatchprotectionservice_spark.core.avrocodec import (
    encode_avro_ocf,
    parse_avro_ocf,
    read_long,
)
from databatchprotectionservice_spark.core.bits import (
    uleb128,
    zigzag_decode,
    zigzag_encode,
)
from databatchprotectionservice_spark.core.compression import (
    compress,
    decompress,
)
from databatchprotectionservice_spark.core.lz4codec import (
    Lz4FormatError,
    read_lz4_block,
    read_lz4_frame,
)
from databatchprotectionservice_spark.core.msgpackcodec import (
    Timestamp,
    packb,
    unpackb,
)
from databatchprotectionservice_spark.core.orcread import _ByteCursor
from databatchprotectionservice_spark.core.pagecodec import read_uleb128
from databatchprotectionservice_spark.core.tfexample import (
    make_example,
    parse_example,
)
from databatchprotectionservice_spark.core.tfrecordcodec import (
    encode_tfrecord,
    parse_tfrecord,
)
from databatchprotectionservice_spark.core.thriftcodec import ThriftReader
from databatchprotectionservice_spark.core.types import CompressionCodec
from databatchprotectionservice_spark.core.zstdmeta import (
    encode_zstd_raw,
    parse_zstd_frames,
)


def _decode_snappy(data: bytes) -> bytes:
    return decompress(data, CompressionCodec.SNAPPY)


# compressible-ish binary: runs of a few byte values plus noise
blobs = st.binary(max_size=2000) | st.builds(
    lambda b, k: b * k, st.binary(min_size=1, max_size=20),
    st.integers(1, 200),
)


@settings(max_examples=80, deadline=None)
@given(data=blobs)
def test_lz4_block_inverts_and_interops(data):
    """Both raw-block reads: with a declared size (parquet), without
    one (ORC)."""
    block = compress(data, CompressionCodec.LZ4_RAW)
    assert decompress(block, CompressionCodec.LZ4_RAW, len(data)) == data
    assert read_lz4_block(block) == data


@settings(max_examples=60, deadline=None)
@given(data=blobs, cut=st.integers(1, 8))
def test_lz4_frame_inverts(data, cut):
    """liblz4's frames read back exactly; a cut frame or a second frame
    behind the first raises."""
    fr = pa.compress(data, codec="lz4", asbytes=True)
    assert read_lz4_frame(fr, len(data)) == data
    for bad, want in ((fr[:-cut], len(data)), (fr + fr, 2 * len(data))):
        with pytest.raises(Lz4FormatError):
            read_lz4_frame(bad, want)


@settings(max_examples=80, deadline=None)
@given(data=blobs)
def test_snappy_inverts_and_interops(data):
    ours = compress(data, CompressionCodec.SNAPPY)
    assert _decode_snappy(ours) == data
    assert pa.decompress(
        ours, decompressed_size=len(data), codec="snappy", asbytes=True
    ) == data
    assert _decode_snappy(
        pa.compress(data, codec="snappy", asbytes=True)
    ) == data


@settings(max_examples=60, deadline=None)
@given(data=blobs, checksum=st.booleans())
def test_zstd_raw_frame_inverts(data, checksum):
    fr = encode_zstd_raw(data, checksum=checksum)
    (f,) = parse_zstd_frames(fr)
    assert f["content"] == data
    assert pa.decompress(
        fr, decompressed_size=len(data), codec="zstd", asbytes=True
    ) == data


@settings(max_examples=60, deadline=None)
@given(payloads=st.lists(st.binary(max_size=500), max_size=30))
def test_tfrecord_inverts(payloads):
    assert parse_tfrecord(encode_tfrecord(payloads)) == payloads


msgpack_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(-(2**63), 2**63 - 1)
    | st.floats(allow_nan=False)
    | st.text(max_size=60)
    | st.binary(max_size=60)
    | st.builds(
        Timestamp,
        st.integers(-(2**62), 2**62),
        st.integers(0, 10**9 - 1),
    ),
    lambda inner: st.lists(inner, max_size=6)
    | st.dictionaries(st.text(max_size=12), inner, max_size=6),
    max_leaves=25,
)


@settings(max_examples=120, deadline=None)
@given(v=msgpack_values)
def test_msgpack_inverts(v):
    assert unpackb(packb(v)) == v


_AVRO_SCHEMA = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "b", "type": "bytes"},
        {"name": "f", "type": "double"},
        {"name": "t", "type": "boolean"},
    ],
}
avro_rows = st.lists(
    st.fixed_dictionaries(
        {
            "k": st.integers(-(2**63), 2**63 - 1),
            "s": st.none() | st.text(max_size=40),
            "b": st.binary(max_size=40),
            "f": st.floats(allow_nan=False),
            "t": st.booleans(),
        }
    ),
    max_size=40,
)


@settings(max_examples=40, deadline=None)
@given(rows=avro_rows, codec=st.sampled_from(["null", "deflate", "snappy"]))
def test_avro_inverts(rows, codec):
    wire = encode_avro_ocf(
        rows, _AVRO_SCHEMA, codec=codec, sync=b"P" * 16, block_records=7
    )
    assert parse_avro_ocf(wire)["records"] == rows


@settings(max_examples=60, deadline=None)
@given(
    feats=st.dictionaries(
        st.text(min_size=1, max_size=20),
        st.lists(st.binary(max_size=40), min_size=1, max_size=5)
        | st.lists(
            st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=5
        ),
        max_size=6,
    )
)
def test_tfexample_inverts(feats):
    assert parse_example(make_example(feats)) == feats


_INT64 = st.integers(-(2**63), 2**63 - 1)


@settings(max_examples=200, deadline=None)
@given(u=st.integers(0, 2**64 - 1), n=_INT64, small=st.integers(0, 2**32 - 1))
def test_shared_uleb128_reads_back_in_every_format(u, n, small):
    """One writer, four independent readers, each bounded differently:
    Thrift takes full 64-bit varints, Avro zigzagged longs, pagecodec's
    level-run headers stop at 35 bits."""
    wire = uleb128(u)
    r = ThriftReader(wire)
    assert r._varint() == u and r.pos == len(wire)
    wire = uleb128(zigzag_encode(n))
    assert read_long(wire, 0) == (n, len(wire))
    wire = uleb128(small)
    assert read_uleb128(wire + b"\xff", 0) == (small, len(wire))


@settings(max_examples=40, deadline=None)
@given(n=st.integers(0, 1 << 22) | st.integers(0, 300))
def test_shared_uleb128_is_the_snappy_preamble(n):
    # one literal of n bytes (4-byte length form) behind the preamble
    body = b"" if n == 0 else bytes([63 << 2]) + (n - 1).to_bytes(4, "little")
    data = bytes(n)
    assert _decode_snappy(uleb128(n) + body + data) == data


@settings(max_examples=300, deadline=None)
@given(n=_INT64, wide=st.integers(-(2**199), 2**199 - 1))
def test_zigzag_pair_round_trips_at_64_and_200_bits(n, wide):
    u = zigzag_encode(n)
    # on int64 it is the usual fixed-width fold
    assert u == ((n << 1) ^ (n >> 63)) & (2**64 - 1)
    assert zigzag_decode(u) == n
    w = zigzag_encode(wide)
    assert 0 <= w < 2**200
    assert zigzag_decode(w) == wide
    # ORC's unbounded decimal varints carry exactly this shape
    assert zigzag_decode(_ByteCursor(uleb128(w)).uvarint(max_bits=200)) == wide
