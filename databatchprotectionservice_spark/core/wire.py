"""Ciphertext wire format + byte split/join utilities.

Replicates the reference's self-describing value-list layout exactly
(``src/processing/encryptors/encryptor_utils.h:29-86``):

```
Fixed:    [0x01][u32 element_count][u32 element_size][count*size bytes]
Variable: [0x00][u32 element_count][count x [u32 len][bytes]]
```

and the length-prefix join used to carry levels+values in one blob
(``encryption_sequencer.cpp:148-150``, ``bytes_utils.h:284-343``):

```
[u32 len(first)][first][second]
```

All integers are little-endian u32 (``bytes_utils.h:188-206``). The numpy
representation of a value list is Arrow-style: a flat uint8 array plus an
int64 offsets array of length count+1.
"""

from __future__ import annotations

import struct

import numpy as np

from . import _native
from .errors import DBPSInvalidInputError

TAG_VARIABLE = 0x00
TAG_FIXED = 0x01

_U32 = struct.Struct("<I")
U32_MAX = (1 << 32) - 1


def parse_length_prefixed(
    body: bytes | np.ndarray, count: int, what: str = "value list"
) -> tuple[np.ndarray, np.ndarray]:
    """Parse ``count`` back-to-back ``[u32 len][bytes]`` records into the
    Arrow-style (flat uint8, int64 offsets) pair.

    The record starts are data-dependent (each depends on every previous
    length), so the walk is inherently sequential; it runs in the C
    helper, which also copies the payloads out in one pass, keeping
    multi-MB string batches off the Python hot path."""
    buf = (
        np.frombuffer(body, dtype=np.uint8)
        if not isinstance(body, np.ndarray)
        else body
    )
    # count is attacker-reachable (page metadata): a negative value
    # would under-allocate before the native writer's unconditional
    # first store (heap OOB) or raise a raw numpy ValueError, and a
    # huge one a raw MemoryError — every record needs >= 4 bytes, so
    # the buffer bounds the only believable counts
    if count < 0 or count > len(buf) // 4:
        raise DBPSInvalidInputError(
            f"{what} count {count} impossible for {len(buf)} bytes"
        )
    err, flat, offsets = _native.parse_plain(buf, count)
    if err == 1:
        raise DBPSInvalidInputError(f"truncated {what} length prefix")
    if err == 2:
        raise DBPSInvalidInputError(f"truncated {what} element")
    if err == 3:
        raise DBPSInvalidInputError(f"trailing bytes after {what}")
    return flat, offsets


def write_value_list(
    flat: np.ndarray, offsets: np.ndarray, fixed_size: int | None
) -> bytes:
    """Serialize an element batch to the tagged wire format."""
    count = len(offsets) - 1
    if count < 0:
        raise DBPSInvalidInputError("offsets must have at least one entry")
    if count > U32_MAX:
        raise DBPSInvalidInputError("element count exceeds u32")
    payload = flat.tobytes()
    if fixed_size is not None:
        if fixed_size <= 0:
            raise DBPSInvalidInputError("fixed_size must be positive")
        if len(payload) != count * fixed_size:
            raise DBPSInvalidInputError(
                f"fixed buffer of {len(payload)} bytes is not "
                f"{count} x {fixed_size}"
            )
        return b"".join(
            (bytes([TAG_FIXED]), _U32.pack(count), _U32.pack(fixed_size), payload)
        )
    lengths = np.diff(offsets)
    if lengths.size and int(lengths.max()) > U32_MAX:
        raise DBPSInvalidInputError("element length exceeds u32")
    out = interleave_plain(flat, offsets)
    return bytes([TAG_VARIABLE]) + _U32.pack(count) + out.tobytes()


def interleave_plain(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """[u32 len][bytes]-interleave an Arrow-style (flat, offsets) pair
    into one uint8 array (no tag/count header), in the C helper — the
    one scatter behind both the tagged wire writer above and
    ``pagecodec.value_buffer_to_bytes``'s PLAIN emit."""
    return _native.write_interleaved(flat, offsets)


def read_value_list(data: bytes) -> tuple[np.ndarray, np.ndarray, int | None]:
    """Parse the tagged wire format -> (flat, offsets, fixed_size|None)."""
    if len(data) < 5:
        raise DBPSInvalidInputError("value list shorter than header")
    tag = data[0]
    (count,) = _U32.unpack_from(data, 1)
    if tag == TAG_FIXED:
        if len(data) < 9:
            raise DBPSInvalidInputError("fixed value list shorter than header")
        (size,) = _U32.unpack_from(data, 5)
        if size == 0:
            raise DBPSInvalidInputError("fixed element size must be positive")
        body = data[9:]
        if len(body) != count * size:
            raise DBPSInvalidInputError(
                f"fixed value list body of {len(body)} bytes is not "
                f"{count} x {size}"
            )
        flat = np.frombuffer(body, dtype=np.uint8)
        offsets = np.arange(count + 1, dtype=np.int64) * size
        return flat, offsets, size
    if tag == TAG_VARIABLE:
        body = np.frombuffer(data, dtype=np.uint8, offset=5)
        flat, offsets = parse_length_prefixed(
            body, count, what="variable value list"
        )
        return flat, offsets, None
    raise DBPSInvalidInputError(f"unknown value-list tag: {tag:#x}")


def join_with_length_prefix(first: bytes, second: bytes) -> bytes:
    """``[u32 len(first)][first][second]`` (``bytes_utils.h:284-302``)."""
    if len(first) > U32_MAX:
        raise DBPSInvalidInputError("first part exceeds u32 length prefix")
    return _U32.pack(len(first)) + first + second


def split_with_length_prefix(data: bytes) -> tuple[bytes, bytes]:
    """Inverse of :func:`join_with_length_prefix` (``bytes_utils.h:312-328``)."""
    if len(data) < 4:
        raise DBPSInvalidInputError("blob shorter than length prefix")
    (n,) = _U32.unpack_from(data, 0)
    if 4 + n > len(data):
        raise DBPSInvalidInputError("length prefix exceeds blob size")
    return data[4 : 4 + n], data[4 + n :]


def bytes_list_to_arrow(values: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Convenience: python list of bytes -> (flat uint8, int64 offsets)."""
    offsets = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum([len(v) for v in values], out=offsets[1:])
    flat = (
        np.frombuffer(b"".join(values), dtype=np.uint8)
        if values
        else np.empty(0, dtype=np.uint8)
    )
    return flat, offsets


def arrow_to_bytes_list(flat: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    raw = flat.tobytes()
    return [raw[offsets[i] : offsets[i + 1]] for i in range(len(offsets) - 1)]
