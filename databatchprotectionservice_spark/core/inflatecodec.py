"""DEFLATE (RFC 1951) with the RFC 1950 (zlib) and RFC 1952 (gzip)
wrappers.

Decoding runs in stdlib ``zlib`` (``decompressobj``); this module
keeps the container walks around it:

* RFC 1950: 2-byte header (CM/CINFO/FCHECK/FDICT) and the Adler-32
  trailer;
* RFC 1952: gzip member header (magic, CM, FLG with FEXTRA/FNAME/
  FCOMMENT/FHCRC), CRC-32 and ISIZE trailer, and the walk over
  concatenated members.

Every decode is capped at ``MAX_OUTPUT`` bytes, and any ``zlib.error``
surfaces as :class:`InflateError`.  The encoder half (fixed and
dynamic Huffman blocks over a greedy LZ77 parse, stored fallback,
zlib/gzip framing) is written from the RFC; tests use stdlib zlib as
its decode referee.
"""

from __future__ import annotations

import struct
import zlib
from zlib import adler32, crc32

from .errors import DBPSInvalidInputError

#: decompressed-size cap: a hostile stream must not balloon memory
MAX_OUTPUT = 1 << 28


class InflateError(DBPSInvalidInputError):
    """Malformed DEFLATE/zlib/gzip data."""


# RFC 1951 §3.2.5 length codes 257-285: (extra bits, base length)
_LEN_TABLE = [
    (0, 3), (0, 4), (0, 5), (0, 6), (0, 7), (0, 8), (0, 9), (0, 10),
    (1, 11), (1, 13), (1, 15), (1, 17), (2, 19), (2, 23), (2, 27),
    (2, 31), (3, 35), (3, 43), (3, 51), (3, 59), (4, 67), (4, 83),
    (4, 99), (4, 115), (5, 131), (5, 163), (5, 195), (5, 227), (0, 258),
]
# distance codes 0-29: (extra bits, base distance)
_DIST_TABLE = [
    (0, 1), (0, 2), (0, 3), (0, 4), (1, 5), (1, 7), (2, 9), (2, 13),
    (3, 17), (3, 25), (4, 33), (4, 49), (5, 65), (5, 97), (6, 129),
    (6, 193), (7, 257), (7, 385), (8, 513), (8, 769), (9, 1025),
    (9, 1537), (10, 2049), (10, 3073), (11, 4097), (11, 6145),
    (12, 8193), (12, 12289), (13, 16385), (13, 24577),
]
# RFC 1951 §3.2.7: the code-length code's fixed symbol order
_CLC_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)


def inflate_raw(data: bytes, start: int = 0) -> tuple[bytes, int]:
    """Decode one complete raw-DEFLATE stream starting at byte
    ``start``; returns (decompressed bytes, next byte position)."""
    d = zlib.decompressobj(-15)
    try:
        out = d.decompress(memoryview(data)[start:], MAX_OUTPUT + 1)
    except zlib.error as e:
        raise InflateError(f"zlib: {e}") from None
    if len(out) > MAX_OUTPUT:
        raise InflateError("output exceeds decoder cap")
    if not d.eof:
        raise InflateError("unexpected end of DEFLATE stream")
    return out, len(data) - len(d.unused_data)


def inflate_zlib(data: bytes) -> bytes:
    """RFC 1950 wrapper: header checks + Adler-32 trailer verify."""
    if len(data) < 6:
        raise InflateError("zlib stream too short")
    cmf, flg = data[0], data[1]
    if cmf & 0x0F != 8:
        raise InflateError(f"zlib CM {cmf & 0x0F} is not DEFLATE")
    if (cmf >> 4) > 7:
        raise InflateError("zlib CINFO window exceeds 32 KiB")
    if (cmf * 256 + flg) % 31 != 0:
        raise InflateError("zlib FCHECK failed")
    if flg & 0x20:
        raise InflateError("zlib FDICT preset dictionaries not supported")
    out, pos = inflate_raw(data, 2)
    if pos + 4 > len(data):
        raise InflateError("zlib stream missing Adler-32 trailer")
    want = struct.unpack_from(">I", data, pos)[0]
    got = adler32(out)
    if want != got:
        raise InflateError(f"Adler-32 mismatch: {got:#x} != {want:#x}")
    return out


def inflate_gzip(data: bytes) -> bytes:
    """RFC 1952 single-member gzip: exactly one member, trailer-verified.

    Bytes after the member's trailer are an error here, not a second
    member (:func:`gzip_members` is the multi-stream entry point)."""
    members = gzip_members(data)
    if len(members) != 1:
        raise InflateError(
            f"expected one gzip member, found {len(members)}"
        )
    return members[0]


# ---------------------------------------------------------------------------
# Encode direction: fixed-Huffman DEFLATE with greedy LZ77 (+ stored
# fallback), zlib/gzip wrappers.  The decode referee in tests is
# stdlib zlib — streams this encoder emits must inflate byte-exact.
# ---------------------------------------------------------------------------

#: greedy matcher bounds (RFC limits: length <= 258, distance <= 32768)
_MIN_MATCH = 3
_MAX_MATCH = 258
_WINDOW = 32768


class _BitWriter:
    """LSB-first bit packer (RFC 1951 §3.1.1)."""

    __slots__ = ("out", "buf", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def put(self, v: int, n: int) -> None:
        self.buf |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.buf & 0xFF)
            self.buf >>= 8
            self.nbits -= 8

    def put_code(self, code: int, n: int) -> None:
        """Huffman codes pack MSB-first (RFC 1951 §3.1.1)."""
        for i in range(n - 1, -1, -1):
            self.put((code >> i) & 1, 1)

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.buf & 0xFF)
            self.buf = 0
            self.nbits = 0
        return bytes(self.out)


def _put_fixed_literal(w: _BitWriter, sym: int) -> None:
    if sym < 144:
        w.put_code(0x30 + sym, 8)
    elif sym < 256:
        w.put_code(0x190 + sym - 144, 9)
    elif sym < 280:
        w.put_code(sym - 256, 7)
    else:
        w.put_code(0xC0 + sym - 280, 8)


def _length_symbol(length: int) -> tuple[int, int, int]:
    """length -> (symbol, extra bits, extra value)."""
    for sym in range(len(_LEN_TABLE) - 1, -1, -1):
        eb, base = _LEN_TABLE[sym]
        if length >= base:
            return 257 + sym, eb, length - base
    raise InflateError(f"length {length} below minimum match")


def _dist_symbol(distance: int) -> tuple[int, int, int]:
    for sym in range(len(_DIST_TABLE) - 1, -1, -1):
        eb, base = _DIST_TABLE[sym]
        if distance >= base:
            return sym, eb, distance - base
    raise InflateError(f"distance {distance} below 1")


def _lz77_tokens(data: bytes) -> list[tuple[int, int]]:
    """Greedy hash-head LZ77 parse (single-slot 3-byte hash, the same
    greedy discipline as the LZ4 encoder; correctness never depends
    on match quality).  Tokens are (literal_byte, 0) or
    (length, distance) with distance > 0."""
    head: dict[int, int] = {}
    tokens: list[tuple[int, int]] = []
    i, n = 0, len(data)
    while i < n:
        match_len = 0
        match_dist = 0
        if i + _MIN_MATCH <= n:
            key = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
            cand = head.get(key)
            head[key] = i
            if cand is not None and i - cand <= _WINDOW:
                limit = min(_MAX_MATCH, n - i)
                ln = 0
                while ln < limit and data[cand + ln] == data[i + ln]:
                    ln += 1
                if ln >= _MIN_MATCH:
                    match_len, match_dist = ln, i - cand
        if match_len:
            tokens.append((match_len, match_dist))
            # seed the hash along the match so later data can refer
            # into it (head slots, not chains: greedy single-slot)
            end = i + match_len
            j = i + 1
            while j < min(end, n - _MIN_MATCH + 1):
                k = data[j] | (data[j + 1] << 8) | (data[j + 2] << 16)
                head[k] = j
                j += 1
            i = end
        else:
            tokens.append((data[i], 0))
            i += 1
    return tokens


def _emit_tokens(w, tokens, put_litlen, put_dist) -> None:
    """Serialize the token stream through per-alphabet emitters."""
    for a, b in tokens:
        if b == 0:
            put_litlen(w, a)
        else:
            sym, eb, ev = _length_symbol(a)
            put_litlen(w, sym)
            w.put(ev, eb)
            dsym, deb, dev = _dist_symbol(b)
            put_dist(w, dsym)
            w.put(dev, deb)
    put_litlen(w, 256)  # end of block


def deflate_fixed(data: bytes) -> bytes:
    """One final fixed-Huffman block over the greedy LZ77 parse."""
    data = bytes(data)
    w = _BitWriter()
    w.put(1, 1)  # BFINAL
    w.put(1, 2)  # fixed Huffman
    _emit_tokens(
        w,
        _lz77_tokens(data),
        _put_fixed_literal,
        lambda wr, dsym: wr.put_code(dsym, 5),
    )
    return w.finish()


def deflate_stored(data: bytes) -> bytes:
    """Stored (uncompressed) blocks — the incompressible fallback."""
    data = bytes(data)
    out = bytearray()
    pos = 0
    while True:
        chunk = data[pos : pos + 0xFFFF]
        final = 1 if pos + len(chunk) >= len(data) else 0
        out.append(final)  # BFINAL + BTYPE=00, byte-aligned
        out += struct.pack("<HH", len(chunk), len(chunk) ^ 0xFFFF)
        out += chunk
        pos += len(chunk)
        if final:
            return bytes(out)


def deflate(data: bytes) -> bytes:
    """Block-type election, cost-aware: dynamic tables only pay off
    once the payload amortizes their serialization (~200 bytes —
    below that fixed codes win or tie within a few bytes), and the
    stored fallback is only worth COMPUTING when the Huffman stream
    failed to compress at all.  One encode pass in the common case
    instead of three (the naive try-everything election tripled the
    per-document cost of the gzip shard gate)."""
    best = deflate_dynamic(data) if len(data) >= 200 else deflate_fixed(data)
    if len(best) >= len(data):
        stored = deflate_stored(data)
        if len(stored) < len(best):
            best = stored
    return best


def zlib_compress(data: bytes) -> bytes:
    """RFC 1950 framing around :func:`deflate` (32K window, FCHECK
    balanced, no dictionary)."""
    cmf = 0x78
    flg = 0x9C  # level-2 FLEVEL; (0x78*256 + 0x9C) % 31 == 0
    return (
        bytes([cmf, flg])
        + deflate(data)
        + struct.pack(">I", adler32(data))
    )


def gzip_compress(data: bytes, fname: str | None = None) -> bytes:
    """RFC 1952 single-member framing around :func:`deflate`."""
    flg = 0x08 if fname else 0
    hdr = bytearray(b"\x1f\x8b\x08" + bytes([flg]) + b"\x00" * 6)
    if fname:
        hdr += fname.encode("latin-1") + b"\x00"
    return (
        bytes(hdr)
        + deflate(data)
        + struct.pack("<II", crc32(data), len(data) % (1 << 32))
    )


def gzip_members(data: bytes) -> list[bytes]:
    """Walk CONCATENATED gzip members (RFC 1952 §2.2 allows a file to
    be a sequence of members — the Common Crawl warc.gz layout) and
    return each member's decompressed payload, trailer-verified."""
    data = bytes(data)
    out: list[bytes] = []
    pos = 0
    while pos < len(data):
        if pos + 18 > len(data) or data[pos] != 0x1F or data[pos + 1] != 0x8B:
            raise InflateError(f"missing gzip member magic at {pos}")
        # the member's extent is the header walked here, then the
        # raw-stream end position inflate_raw reports, then the trailer
        if data[pos + 2] != 8:
            raise InflateError(f"gzip CM {data[pos + 2]} is not DEFLATE")
        flg = data[pos + 3]
        if flg & 0xE0:
            raise InflateError("gzip reserved FLG bits set")
        p = pos + 10
        if flg & 0x04:
            if p + 2 > len(data):
                raise InflateError("truncated FEXTRA length")
            p += 2 + struct.unpack_from("<H", data, p)[0]
        for bit in (0x08, 0x10):
            if flg & bit:
                end = data.find(b"\x00", p)
                if end < 0:
                    raise InflateError("unterminated gzip header string")
                p = end + 1
        if flg & 0x02:
            if p + 2 > len(data):
                raise InflateError("truncated FHCRC")
            want = struct.unpack_from("<H", data, p)[0]
            if crc32(data[pos:p]) & 0xFFFF != want:
                raise InflateError("gzip header CRC16 mismatch")
            p += 2
        payload, p = inflate_raw(data, p)
        if p + 8 > len(data):
            raise InflateError("gzip member missing CRC32/ISIZE trailer")
        want_crc, want_isize = struct.unpack_from("<II", data, p)
        if crc32(payload) != want_crc:
            raise InflateError("gzip member CRC-32 mismatch")
        if len(payload) % (1 << 32) != want_isize:
            raise InflateError("gzip member ISIZE mismatch")
        out.append(payload)
        pos = p + 8
    return out


# ---------------------------------------------------------------------------
# Dynamic-Huffman blocks: package-merge length-limited codes + the
# RFC 1951 §3.2.7 code-length-code serialization.
# ---------------------------------------------------------------------------


def _package_merge(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Optimal length-limited Huffman code lengths (the public
    package-merge / coin-collector algorithm): lengths are the leaf
    multiplicities in the cheapest ``2n-2`` items of the L-th merged
    list.  Returns {symbol: length}; a single-symbol alphabet gets
    length 1 (the legal incomplete code zlib accepts)."""
    leaves = sorted((f, s) for s, f in freqs.items() if f > 0)
    n = len(leaves)
    if n == 0:
        return {}
    if n == 1:
        return {leaves[0][1]: 1}
    if (1 << limit) < n:
        raise InflateError(f"{n} symbols cannot fit {limit}-bit codes")
    lengths = {s: 0 for _, s in leaves}
    prev: list[tuple[int, tuple[int, ...]]] = []
    leaf_items = [(f, (s,)) for f, s in leaves]
    for level in range(limit):
        items = sorted(leaf_items + prev, key=lambda x: x[0])
        if level == limit - 1:
            for _, syms in items[: 2 * n - 2]:
                for s in syms:
                    lengths[s] += 1
            return lengths
        prev = [
            (
                items[i][0] + items[i + 1][0],
                items[i][1] + items[i + 1][1],
            )
            for i in range(0, len(items) - 1, 2)
        ]
    raise AssertionError("unreachable")


def _canonical_codes(lengths: list[int]) -> list[tuple[int, int]]:
    """Code lengths -> canonical (code, length) per symbol, the
    §3.2.2 next_code construction."""
    maxlen = max(lengths) if lengths else 0
    counts = [0] * (maxlen + 1)
    for ln in lengths:
        if ln:
            counts[ln] += 1
    next_code = [0] * (maxlen + 2)
    code = 0
    for ln in range(1, maxlen + 1):
        code = (code + counts[ln - 1]) << 1
        next_code[ln] = code
    out = []
    for ln in lengths:
        if ln == 0:
            out.append((0, 0))
        else:
            out.append((next_code[ln], ln))
            next_code[ln] += 1
    return out


def _clc_runs(lengths: list[int]):
    """Run-length encode a code-length array with the 16/17/18
    repeat codes (RFC 1951 §3.2.7); yields (symbol, extra_bits,
    extra_value)."""
    i, n = 0, len(lengths)
    while i < n:
        v = lengths[i]
        run = 1
        while i + run < n and lengths[i + run] == v:
            run += 1
        if v == 0:
            while run >= 3:
                take = min(run, 138)
                if take > 10:
                    yield 18, 7, take - 11
                else:
                    yield 17, 3, take - 3
                run -= take
                i += take
            for _ in range(run):
                yield 0, 0, 0
                i += 1
        else:
            yield v, 0, 0
            i += 1
            run -= 1
            while run >= 3:
                take = min(run, 6)
                yield 16, 2, take - 3
                run -= take
                i += take
            for _ in range(run):
                yield v, 0, 0
                i += 1


def deflate_dynamic(data: bytes) -> bytes:
    """One final dynamic-Huffman block: per-payload package-merge
    codes over the greedy LZ77 token stream, tables serialized with
    the §3.2.7 code-length code."""
    data = bytes(data)
    tokens = _lz77_tokens(data)
    lit_freq: dict[int, int] = {256: 1}
    dist_freq: dict[int, int] = {}
    for a, b in tokens:
        if b == 0:
            lit_freq[a] = lit_freq.get(a, 0) + 1
        else:
            sym, _, _ = _length_symbol(a)
            lit_freq[sym] = lit_freq.get(sym, 0) + 1
            dsym, _, _ = _dist_symbol(b)
            dist_freq[dsym] = dist_freq.get(dsym, 0) + 1
    lit_len_map = _package_merge(lit_freq, 15)
    dist_len_map = _package_merge(dist_freq, 15) or {0: 1}
    hlit = max(257, max(lit_len_map) + 1)
    hdist = max(1, max(dist_len_map) + 1)
    lit_lengths = [lit_len_map.get(s, 0) for s in range(hlit)]
    dist_lengths = [dist_len_map.get(s, 0) for s in range(hdist)]

    runs = list(_clc_runs(lit_lengths + dist_lengths))
    clc_freq: dict[int, int] = {}
    for sym, _, _ in runs:
        clc_freq[sym] = clc_freq.get(sym, 0) + 1
    clc_len_map = _package_merge(clc_freq, 7)
    clc_lengths = [clc_len_map.get(s, 0) for s in range(19)]
    hclen = max(
        4,
        max(
            i + 1
            for i, sym in enumerate(_CLC_ORDER)
            if clc_lengths[sym] or i < 4
        ),
    )

    lit_codes = _canonical_codes(lit_lengths)
    dist_codes = _canonical_codes(dist_lengths)
    clc_codes = _canonical_codes(clc_lengths)

    w = _BitWriter()
    w.put(1, 1)  # BFINAL
    w.put(2, 2)  # dynamic
    w.put(hlit - 257, 5)
    w.put(hdist - 1, 5)
    w.put(hclen - 4, 4)
    for i in range(hclen):
        w.put(clc_lengths[_CLC_ORDER[i]], 3)
    for sym, eb, ev in runs:
        code, ln = clc_codes[sym]
        w.put_code(code, ln)
        if eb:
            w.put(ev, eb)
    _emit_tokens(
        w,
        tokens,
        lambda wr, s: wr.put_code(*lit_codes[s]),
        lambda wr, s: wr.put_code(*dist_codes[s]),
    )
    return w.finish()
