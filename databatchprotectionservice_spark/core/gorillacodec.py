"""Gorilla time-series codec from scratch — delta-of-delta timestamps
and XOR-compressed doubles.

Public-spec provenance: the Facebook Gorilla paper ("Gorilla: A Fast,
Scalable, In-Memory Time Series Database", VLDB 2015, §4.1), the
compression scheme Prometheus/M3/InfluxDB-family TSDB engines adopted:

* **Timestamps (§4.1.1)**: store the first two points verbatim, then
  per point the *delta of deltas* ``dod = (t_n - t_{n-1}) -
  (t_{n-1} - t_{n-2})`` in prefix-coded ranges.  The paper's ranges
  are tuned for seconds; this codec keeps the same prefix ladder but
  widens the escape to 64 bits for microsecond streams:

  ========  ================  ======================
  prefix    payload bits      dod range (offset-bin)
  ========  ================  ======================
  ``0``     0                 dod == 0
  ``10``    7                 [-63, 64]
  ``110``   9                 [-255, 256]
  ``1110``  12                [-2047, 2048]
  ``11110`` 64                anything (zigzag)
  ========  ================  ======================

* **Values (§4.1.2)**: XOR each double's IEEE-754 bits with the
  previous value's; all-zero XOR emits ``0``; otherwise ``1`` then a
  control bit: ``0`` reuses the previous (leading, meaningful-length)
  window, ``1`` writes 5 bits of leading-zero count + 6 bits of
  meaningful length (64 encoded as 0, per the paper's packing) before
  the meaningful bits.

Reference scope: the reference service treats payload bytes as opaque
(`src/data_batch_protection_service.cpp`); a columnar TSDB codec is
engine-side machinery beside the other byte layers (``pagecodec``,
``zstdmeta``), here because a 100 TB events pipeline
stores exactly these streams.  Bit-exact determinism makes the
timestamp half SQL-restatable: the per-point prefix class is a pure
function of ``dod``, so an oracle can recount class histograms and
total bits with window functions — a single misclassified range or
dropped point breaks the match.
"""

from __future__ import annotations

import struct

from .bits import zigzag_decode, zigzag_encode
from .errors import DBPSInvalidInputError


class GorillaFormatError(DBPSInvalidInputError):
    """Malformed or truncated Gorilla stream."""


class BitWriter:
    """MSB-first bit appender."""

    __slots__ = ("_buf", "_acc", "_nacc", "bits")

    def __init__(self) -> None:
        self._buf = bytearray()
        self._acc = 0
        self._nacc = 0
        self.bits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits < 0 or (nbits < 64 and value >> nbits):
            raise GorillaFormatError(
                f"value {value} does not fit {nbits} bits"
            )
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nacc += nbits
        self.bits += nbits
        while self._nacc >= 8:
            self._nacc -= 8
            self._buf.append((self._acc >> self._nacc) & 0xFF)
        self._acc &= (1 << self._nacc) - 1

    def getvalue(self) -> bytes:
        out = bytearray(self._buf)
        if self._nacc:
            out.append((self._acc << (8 - self._nacc)) & 0xFF)
        return bytes(out)


class BitReader:
    """MSB-first bit consumer; reading past the end raises."""

    __slots__ = ("_data", "_pos", "_nbits")

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0
        self._nbits = len(data) * 8

    def read(self, nbits: int) -> int:
        pos = self._pos
        end = pos + nbits
        if end > self._nbits:
            raise GorillaFormatError("bitstream exhausted")
        if nbits == 0:
            return 0
        # byte-level: one int.from_bytes over the covered span beats
        # a per-bit loop ~30x for the 64-bit escape/header reads
        first = pos >> 3
        last = (end + 7) >> 3
        chunk = int.from_bytes(self._data[first:last], "big")
        shift = (last - first) * 8 - (pos & 7) - nbits
        self._pos = end
        return (chunk >> shift) & ((1 << nbits) - 1)


#: (prefix value, prefix bits, payload bits, lo, hi) — offset-binary
#: payload stores ``dod - lo``
_DOD_LADDER = (
    (0b10, 2, 7, -63, 64),
    (0b110, 3, 9, -255, 256),
    (0b1110, 4, 12, -2047, 2048),
)


def dod_class(dod: int) -> int:
    """Prefix-class index for a delta-of-delta: 0 = the 1-bit zero
    code, 1..3 = the ladder rows, 4 = the 64-bit escape.  Pure
    function of ``dod`` — the property the SQL oracle recounts."""
    if dod == 0:
        return 0
    for i, (_p, _pb, _vb, lo, hi) in enumerate(_DOD_LADDER):
        if lo <= dod <= hi:
            return i + 1
    return 4


#: total bits a point of each class occupies in the stream
CLASS_BITS = (1, 2 + 7, 3 + 9, 4 + 12, 5 + 64)


def encode_timestamps(ts: list) -> tuple[bytes, list]:
    """Microsecond timestamps -> (stream bytes, class histogram).

    Layout: ``u32 count``, then point 0 and point 1 as raw 64-bit
    (two's complement), then one prefix-coded dod per point.  The
    histogram counts points 2.. by :func:`dod_class`."""
    w = BitWriter()
    n = len(ts)
    w.write(n, 32)
    hist = [0, 0, 0, 0, 0]
    if n >= 1:
        w.write(ts[0] & ((1 << 64) - 1), 64)
    if n >= 2:
        w.write(ts[1] & ((1 << 64) - 1), 64)
    for i in range(2, n):
        dod = (ts[i] - ts[i - 1]) - (ts[i - 1] - ts[i - 2])
        cls = dod_class(dod)
        hist[cls] += 1
        if cls == 0:
            w.write(0, 1)
        elif cls <= 3:
            prefix, pbits, vbits, lo, _hi = _DOD_LADDER[cls - 1]
            w.write(prefix, pbits)
            w.write(dod - lo, vbits)
        else:
            w.write(0b11110, 5)
            z = zigzag_encode(dod)
            if z >> 64:
                raise GorillaFormatError(f"dod {dod} exceeds 64 bits")
            w.write(z, 64)
    return w.getvalue(), hist


def decode_timestamps(data: bytes) -> list:
    r = BitReader(data)
    n = r.read(32)
    out: list[int] = []

    def _s64(u: int) -> int:
        return u - (1 << 64) if u >> 63 else u

    if n >= 1:
        out.append(_s64(r.read(64)))
    if n >= 2:
        out.append(_s64(r.read(64)))
    for _ in range(2, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:  # '10'
            dod = r.read(7) + _DOD_LADDER[0][3]
        elif r.read(1) == 0:  # '110'
            dod = r.read(9) + _DOD_LADDER[1][3]
        elif r.read(1) == 0:  # '1110'
            dod = r.read(12) + _DOD_LADDER[2][3]
        else:
            if r.read(1) != 0:
                raise GorillaFormatError("prefix beyond the escape code")
            dod = zigzag_decode(r.read(64))
        out.append(out[-1] + (out[-1] - out[-2]) + dod)
    return out


def encode_values(values: list) -> bytes:
    """Doubles -> XOR-compressed stream (§4.1.2), bit-exact (NaN
    payloads and signed zeros survive: the codec moves IEEE bits,
    never float arithmetic)."""
    w = BitWriter()
    w.write(len(values), 32)
    prev_bits = 0
    prev_lead = -1
    prev_mean = -1
    for i, v in enumerate(values):
        bits = struct.unpack("<Q", struct.pack("<d", v))[0]
        if i == 0:
            w.write(bits, 64)
            prev_bits = bits
            continue
        xor = bits ^ prev_bits
        prev_bits = bits
        if xor == 0:
            w.write(0, 1)
            continue
        w.write(1, 1)
        lead = 64 - xor.bit_length()
        trail = (xor & -xor).bit_length() - 1
        mean = 64 - lead - trail
        if (
            prev_lead >= 0
            and lead >= prev_lead
            and trail >= 64 - prev_lead - prev_mean
        ):
            # control '0': reuse the previous window
            w.write(0, 1)
            w.write(xor >> (64 - prev_lead - prev_mean), prev_mean)
        else:
            w.write(1, 1)
            lead = min(lead, 31)  # 5-bit field
            mean = 64 - lead - trail
            w.write(lead, 5)
            w.write(mean & 0x3F, 6)  # 64 encodes as 0 (paper packing)
            w.write(xor >> trail, mean)
            prev_lead, prev_mean = lead, mean
    return w.getvalue()


def decode_values(data: bytes) -> list:
    r = BitReader(data)
    n = r.read(32)
    out: list[float] = []
    prev_bits = 0
    lead = mean = 0
    for i in range(n):
        if i == 0:
            prev_bits = r.read(64)
        else:
            if r.read(1):
                if r.read(1):
                    lead = r.read(5)
                    mean = r.read(6) or 64
                xor = r.read(mean) << (64 - lead - mean)
                prev_bits ^= xor
        out.append(struct.unpack("<d", struct.pack("<Q", prev_bits))[0])
    return out
