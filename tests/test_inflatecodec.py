"""DEFLATE/zlib/gzip decode: zlib behind our container walks.

Every stream CPython's zlib emits (all levels: stored, fixed and
dynamic blocks; sparse, low-entropy and repetitive payloads) must
decode byte-exact.  Strictness is pinned by hand-assembled hostile
streams; a mutation battery proves every escape is the domain error,
and the output cap holds without allocating the full output.
"""

import gzip
import io
import random
import struct
import zlib

import pytest

from databatchprotectionservice_spark.core.errors import (
    DBPSInvalidInputError,
)
from databatchprotectionservice_spark.core.inflatecodec import (
    InflateError,
    adler32,
    crc32,
    gzip_members,
    inflate_gzip,
    inflate_raw,
    inflate_zlib,
)


def _payloads(rng, n_each=40):
    out = []
    for _ in range(n_each):
        n = rng.randrange(0, 4000)
        out.append(bytes(rng.randrange(256) for _ in range(n)))
        out.append(bytes(rng.choice(b"abcde ") for _ in range(n)))
        unit = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 30)))
        out.append((unit * (n // max(len(unit), 1) + 1))[:n])
    return out


def test_checksums_match_stdlib():
    rng = random.Random(3)
    for p in _payloads(rng, 10):
        assert adler32(p) == zlib.adler32(p)
        assert crc32(p) == zlib.crc32(p)


def test_zlib_referee_all_levels():
    rng = random.Random(5)
    payloads = _payloads(rng, 15)
    for i, p in enumerate(payloads):
        level = i % 10
        assert inflate_zlib(zlib.compress(p, level)) == p
        co = zlib.compressobj(level, zlib.DEFLATED, -15)
        raw = co.compress(p) + co.flush()
        got, pos = inflate_raw(raw)
        assert got == p and pos == len(raw)


def test_gzip_referee_with_header_fields():
    p = bytes(range(256)) * 11
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", filename="name.txt") as f:
        f.write(p)
    assert inflate_gzip(buf.getvalue()) == p
    # multi-flag header assembled by hand: FEXTRA + FNAME + FCOMMENT
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = co.compress(p) + co.flush()
    hdr = (
        b"\x1f\x8b\x08" + bytes([0x04 | 0x08 | 0x10]) + b"\x00" * 6
        + struct.pack("<H", 3) + b"xyz"      # FEXTRA
        + b"fname\x00" + b"comment\x00"      # FNAME, FCOMMENT
    )
    blob = hdr + body + struct.pack("<II", zlib.crc32(p), len(p) % (1 << 32))
    assert inflate_gzip(blob) == p


def test_hand_assembled_stored_and_fixed_blocks():
    # stored: BFINAL=1 BTYPE=00 -> byte 0x01, LEN=3 NLEN=~3, 'abc'
    stored = b"\x01\x03\x00\xfc\xff" + b"abc"
    out, pos = inflate_raw(stored)
    assert out == b"abc" and pos == len(stored)
    # fixed-huffman 'abc' exactly as zlib level 9 emits for tiny input
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    fixed = co.compress(b"abc") + co.flush()
    assert inflate_raw(fixed)[0] == b"abc"
    # empty stored block
    out, _ = inflate_raw(b"\x01\x00\x00\xff\xff")
    assert out == b""


def test_overlapping_backreference_replicates():
    # 'a' then a (distance=1, length=5) run -> 'aaaaaa'
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    raw = co.compress(b"a" * 600) + co.flush()
    assert inflate_raw(raw)[0] == b"a" * 600


def test_hostile_streams_raise_domain_error():
    assert issubclass(InflateError, DBPSInvalidInputError)
    with pytest.raises(InflateError, match="invalid stored block lengths"):
        inflate_raw(b"\x01\x03\x00\x00\x00abc")
    with pytest.raises(InflateError, match="invalid block type"):
        inflate_raw(b"\x07")
    with pytest.raises(InflateError, match="end of DEFLATE"):
        inflate_raw(b"")
    with pytest.raises(InflateError, match="distance too far back"):
        # fixed block: literal 'a' then length-3 @ distance 4 (too far)
        import io as _io
        bits = []
        def put(v, n):
            for i in range(n):
                bits.append((v >> i) & 1)
        put(1, 1); put(1, 2)                # BFINAL, fixed
        def put_code(code, n):              # huffman codes MSB-first
            for i in range(n - 1, -1, -1):
                bits.append((code >> i) & 1)
        put_code(0x30 + ord('a'), 8)        # literal 'a'
        put_code(0x01, 7)                   # length code 257 (len 3)
        put_code(3, 5)                      # distance code 3 (dist 4)
        put_code(0, 7)                      # end of block
        raw = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for j, bit in enumerate(bits[i : i + 8]):
                b |= bit << j
            raw.append(b)
        inflate_raw(bytes(raw))
    # zlib wrapper checks
    good = zlib.compress(b"payload")
    with pytest.raises(InflateError, match="FCHECK"):
        inflate_zlib(bytes([good[0], good[1] ^ 1]) + good[2:])
    bad_adler = bytearray(good); bad_adler[-1] ^= 1
    with pytest.raises(InflateError, match="Adler-32"):
        inflate_zlib(bytes(bad_adler))
    with pytest.raises(InflateError, match="FDICT"):
        inflate_zlib(b"\x78\xbb" + b"\x00" * 8)
    # gzip wrapper checks
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb") as f:
        f.write(b"x")
    g = bytearray(buf.getvalue())
    g[-5] ^= 1
    with pytest.raises(InflateError, match="CRC-32|ISIZE"):
        inflate_gzip(bytes(g))


def test_mutation_battery():
    rng = random.Random(59)
    bases = [
        bytearray(zlib.compress(bytes(range(256)) * 5, 6)),
        bytearray(zlib.compress(b"ab" * 800, 9)),
        bytearray(zlib.compress(bytes(rng.randrange(256) for _ in range(900)), 1)),
    ]
    for _ in range(3000):
        b = bytearray(rng.choice(bases))
        for _ in range(rng.randint(1, 6)):
            op = rng.random()
            if op < 0.6 and b:
                b[rng.randrange(len(b))] = rng.randrange(256)
            elif op < 0.8 and len(b) > 4:
                cut = rng.randrange(len(b) - 3)
                del b[cut : cut + rng.randint(1, 12)]
            else:
                i = rng.randrange(len(b) + 1)
                b[i:i] = bytes(
                    rng.randrange(256) for _ in range(rng.randint(1, 6))
                )
        try:
            inflate_zlib(bytes(b))
        except InflateError:
            pass


# ---------------------------------------------------------------------------
# The production writers' streams: stdlib zlib and gzip encode, and
# the walks above must read every shape they emit.
# ---------------------------------------------------------------------------


def _gzip_member(p: bytes, fname: str) -> bytes:
    """One member as ``ingest_gzip_multistream`` writes it."""
    buf = io.BytesIO()
    with gzip.GzipFile(filename=fname, mode="wb", fileobj=buf, mtime=0) as f:
        f.write(p)
    return buf.getvalue()


def test_encoder_zlib_referee_matrix():
    """zlib, raw DEFLATE and FNAME-carrying gzip members across
    random, text-like and periodic payloads."""
    rng = random.Random(61)
    for trial in range(60):
        n = rng.randrange(0, 5000)
        kind = trial % 3
        if kind == 0:
            p = bytes(rng.randrange(256) for _ in range(n))
        elif kind == 1:
            p = bytes(rng.choice(b"hello world ") for _ in range(n))
        else:
            u = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 25)))
            p = (u * (n // max(len(u), 1) + 1))[:n]
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        raw = co.compress(p) + co.flush()
        assert inflate_raw(raw) == (p, len(raw))
        assert inflate_zlib(zlib.compress(p)) == p
        member = _gzip_member(p, "t.bin")
        assert member[3] & 0x08  # FNAME
        assert inflate_gzip(member) == p
        assert gzip_members(member + _gzip_member(p[:7], "u")) == [p, p[:7]]


def test_encoder_long_matches_and_window_edge():
    # matches at the 258 cap and repeats farther apart than the window
    p = b"A" * 1000 + b"B" * 40000 + b"A" * 1000
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    raw = co.compress(p) + co.flush()
    assert inflate_raw(raw)[0] == p


def test_encoder_multi_chunk_stored():
    p = bytes(random.Random(2).randrange(256) for _ in range(70000))
    co = zlib.compressobj(0, zlib.DEFLATED, -15)
    raw = co.compress(p) + co.flush()  # level 0: stored blocks only
    assert raw[0] & 0x06 == 0 and len(raw) > len(p)
    assert inflate_raw(raw) == (p, len(raw))


# ---------------------------------------------------------------------------
# Cross-validation against the engine's OWN production byte paths:
# the walks must decode the zlib/deflate streams the PNG, ZIP and
# Avro codecs actually emit.
# ---------------------------------------------------------------------------


def test_decodes_png_idat_stream():
    import numpy as np

    from databatchprotectionservice_spark.core.imagecodec import (
        encode_png,
    )

    img = np.arange(9 * 11 * 3, dtype=np.uint8).reshape(9, 11, 3)
    png = encode_png(img)
    # walk PNG chunks for the concatenated IDAT payload
    pos = 8
    idat = bytearray()
    while pos + 8 <= len(png):
        (ln,) = struct.unpack_from(">I", png, pos)
        typ = png[pos + 4 : pos + 8]
        if typ == b"IDAT":
            idat += png[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    ours = inflate_zlib(bytes(idat))
    assert ours == zlib.decompress(bytes(idat))
    # filtered scanlines: height rows of (1 filter byte + 3*width)
    assert len(ours) == 9 * (1 + 11 * 3)


def test_decodes_zip_deflate_member():
    from databatchprotectionservice_spark.core.zipcodec import (
        encode_zip,
        parse_zip,
    )

    payload = b"zip deflate member " * 50
    blob = encode_zip([("a.txt", payload)], deflate=True)
    m = parse_zip(blob)[0]
    assert m["method"] == 8 and m["data"] == payload
    # slice the raw deflate stream out of the single local header:
    # 30 fixed bytes + name, compressed size at local offset 18
    (csize,) = struct.unpack_from("<I", blob, 18)
    raw = blob[30 + len(b"a.txt") : 30 + len(b"a.txt") + csize]
    assert inflate_raw(raw)[0] == payload


def test_decodes_avro_deflate_block():
    from databatchprotectionservice_spark.core.avrocodec import (
        encode_avro_ocf,
        parse_avro_ocf,
    )

    from databatchprotectionservice_spark.core.avrocodec import (
        read_long,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": "string"}],
    }
    rows = [{"x": f"value {i} " * 9} for i in range(50)]
    sync = bytes(range(16))
    blob = encode_avro_ocf(rows, schema, codec="deflate", sync=sync)
    assert parse_avro_ocf(blob)["records"] == rows  # production walk
    # locate the single block after the header's sync marker:
    # [count varint][size varint][deflate bytes][sync]
    start = blob.find(sync) + 16
    _, p2 = read_long(blob, start)
    size, p3 = read_long(blob, p2)
    raw = blob[p3 : p3 + size]
    assert blob[p3 + size : p3 + size + 16] == sync
    assert inflate_raw(raw)[0] == zlib.decompress(raw, -15)


def test_dynamic_huffman_encoder_referee():
    """zlib's Huffman-only and RLE strategies emit dynamic blocks with
    no or distance-1 matches, down to 1-2 symbol alphabets."""
    rng = random.Random(67)
    for trial in range(50):
        n = rng.randrange(0, 5000)
        if trial % 2:
            p = bytes(rng.choice(b"hello world ") for _ in range(n))
        else:
            p = bytes([rng.choice(b"ab")]) * n  # 1-2 symbol extremes
        for strategy in (zlib.Z_HUFFMAN_ONLY, zlib.Z_RLE):
            co = zlib.compressobj(9, zlib.DEFLATED, -15, 9, strategy)
            raw = co.compress(p) + co.flush()
            assert inflate_raw(raw)[0] == p


def test_gzip_trailing_garbage_rejected():
    """inflate_gzip is the single-member strict entry point — bytes
    after the CRC32/ISIZE trailer are an error, exactly as
    gzip_members treats a malformed second member."""
    blob = gzip.compress(b"strict single member")
    assert inflate_gzip(blob) == b"strict single member"
    with pytest.raises(InflateError):
        inflate_gzip(blob + b"\x00")
    with pytest.raises(InflateError):
        inflate_gzip(blob + blob)  # two members -> use gzip_members



def test_output_caps_hold(monkeypatch):
    """64 KiB of zeros against caps lowered to 4 KiB: the zstd frame,
    the zlib stream and the gzip member all raise the domain error
    instead of regenerating the full output."""
    import gzip as gzip_

    import pyarrow as pa

    from databatchprotectionservice_spark.core import inflatecodec, zstdmeta

    monkeypatch.setattr(zstdmeta, "MAX_CONTENT", 4096)
    monkeypatch.setattr(inflatecodec, "MAX_OUTPUT", 4096)
    zeros = bytes(65536)
    # one-shot frames declare their content size; a streamed frame
    # does not, so the walk bounds its read by the block maximum
    sized = pa.compress(zeros, codec="zstd", asbytes=True)
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(zeros)
    unsized = sink.getvalue().to_pybytes()
    assert unsized[4] & 0xC0 == 0 and not unsized[4] & 0x20
    for frame in (sized, unsized):
        assert 255 * len(frame) < len(zeros)
        with pytest.raises(zstdmeta.ZstdFormatError, match="cap"):
            zstdmeta.parse_zstd_frames(frame)
    with pytest.raises(InflateError, match="cap"):
        inflate_zlib(zlib.compress(zeros))
    with pytest.raises(InflateError, match="cap"):
        inflate_gzip(gzip_.compress(zeros))
