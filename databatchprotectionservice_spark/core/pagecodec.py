"""Parquet page codec + the protect/unprotect sequencer (parity layer).

This module re-expresses, in Python over numpy, the reference's page data
plane:

* V1 hybrid RLE/bit-packed definition-level decoding and present-value
  counting — behavioral parity with
  ``src/processing/parquet_utils.cpp:47-184``.
* Level/value byte splitting per page type (V1 whole-payload compressed,
  V2 levels-outside-compression, dictionary pages) —
  ``parquet_utils.cpp:230-414``.
* Typed reinterpretation of PLAIN value bytes — ``parquet_utils.cpp:420-468``
  (BOOLEAN and RLE_DICTIONARY / non-PLAIN encodings are unsupported for
  per-value mode, triggering the fallback).
* The encryption sequencer with per-value -> per-block fallback and
  ``encryption_metadata`` stamping — ``encryption_sequencer.cpp:113-256``.

In the Spark engine this layer is used for (a) API/agent parity with the
reference service and (b) its pytest round-trip matrices; the DataFrame
hot path (``functions/protect.py``) skips page framing entirely because
Spark's Parquet reader already materializes logical columns.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from . import compression as comp
from .errors import DBPSInvalidInputError, DBPSUnsupportedError
from .keystream import Encryptor, make_encryptor
from .types import CompressionCodec, Encoding, PhysicalType
from . import wire
from .wire import (
    join_with_length_prefix,
    read_value_list,
    split_with_length_prefix,
    write_value_list,
)

DBPS_VERSION_KEY = "dbps_agent_version"
DBPS_VERSION = "v0.01"
MODE_KEY_DICT_PAGE = "encrypt_mode_dict_page"
MODE_KEY_DATA_PAGE = "encrypt_mode_data_page"
MODE_PER_BLOCK = "per_block"
MODE_PER_VALUE = "per_value"

PAGE_V1 = "DATA_PAGE_V1"
PAGE_V2 = "DATA_PAGE_V2"
PAGE_DICT = "DICTIONARY_PAGE"


# ---------------------------------------------------------------------------
# V1 definition-level decoding (parquet_utils.cpp:47-184)
# ---------------------------------------------------------------------------


def read_uleb128(data: bytes, offset: int) -> tuple[int, int]:
    """Read a ULEB128 run header; returns (value, new_offset)."""
    value, shift = 0, 0
    while True:
        if offset >= len(data):
            raise DBPSInvalidInputError("truncated varint in V1 level stream")
        b = data[offset]
        offset += 1
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            return value, offset
        shift += 7
        if shift > 28:
            raise DBPSInvalidInputError("varint header too large in V1 level stream")


def count_present_values_v1(
    def_payload: bytes, num_values: int, max_def_level: int
) -> int:
    """Decode a V1 definition-level stream (hybrid RLE / bit-packed) and
    count values whose level equals ``max_def_level`` (i.e. non-nulls)."""
    if num_values < 0:
        raise DBPSInvalidInputError("num_values must be non-negative")
    if max_def_level <= 0:
        raise DBPSInvalidInputError("max_def_level must be positive")
    bit_width = max_def_level.bit_length()
    # definition levels are bounded by schema nesting depth (int16 in
    # the Parquet thrift); past 32 bits the vectorized uint32 bit
    # gather below would hit undefined-behavior shifts and count
    # WRONG levels instead of rejecting the page
    if bit_width > 32:
        raise DBPSInvalidInputError(
            f"max_def_level {max_def_level} out of range"
        )

    present = decoded = offset = 0
    while decoded < num_values:
        header, offset = read_uleb128(def_payload, offset)
        if header & 1 == 0:
            # RLE run: repeated level value in ceil(bit_width/8) bytes
            run_len = header >> 1
            if run_len == 0 or run_len > num_values - decoded:
                raise DBPSInvalidInputError("invalid RLE run length in V1 levels")
            byte_width = (bit_width + 7) // 8
            if offset + byte_width > len(def_payload):
                raise DBPSInvalidInputError("truncated RLE run value in V1 levels")
            level = int.from_bytes(
                def_payload[offset : offset + byte_width], "little"
            )
            offset += byte_width
            if level > max_def_level:
                raise DBPSInvalidInputError("level exceeds max_def_level")
            if level == max_def_level:
                present += run_len
            decoded += run_len
        else:
            # bit-packed run: groups of 8 values, possibly padded at the end
            num_groups = header >> 1
            if num_groups == 0:
                raise DBPSInvalidInputError("invalid bit-packed run in V1 levels")
            run_len = num_groups * 8
            byte_len = (run_len * bit_width + 7) // 8
            if offset + byte_len > len(def_payload):
                raise DBPSInvalidInputError("truncated bit-packed run in V1 levels")
            packed = np.frombuffer(
                def_payload, dtype=np.uint8, count=byte_len, offset=offset
            )
            offset += byte_len
            todo = min(run_len, num_values - decoded)
            # vectorized LSB-first bit gather
            bit_idx = (
                np.arange(todo, dtype=np.int64)[:, None] * bit_width
                + np.arange(bit_width, dtype=np.int64)[None, :]
            )
            bits = (packed[bit_idx >> 3] >> (bit_idx & 7).astype(np.uint8)) & 1
            levels = (bits.astype(np.uint32) << np.arange(bit_width, dtype=np.uint32)).sum(
                axis=1
            )
            if int(levels.max(initial=0)) > max_def_level:
                raise DBPSInvalidInputError("level exceeds max_def_level")
            present += int((levels == max_def_level).sum())
            decoded += todo
    if offset != len(def_payload):
        raise DBPSInvalidInputError("trailing bytes after V1 definition levels")
    return present


def _read_v1_length_prefixed(data: bytes, offset: int) -> tuple[bytes, int]:
    """Read one ``[u32 len][payload]`` block from V1 level bytes."""
    if offset + 4 > len(data):
        raise DBPSInvalidInputError("missing u32 length prefix in V1 level bytes")
    n = int.from_bytes(data[offset : offset + 4], "little")
    start = offset + 4
    if n > len(data) - start:
        raise DBPSInvalidInputError("V1 level block exceeds bounds")
    return data[start : start + n], start + n


def read_definition_level_bytes_v1(level_bytes: bytes, max_rep_level: int) -> bytes:
    """Skip optional repetition levels, return the definition-level payload."""
    offset = 0
    if max_rep_level > 0:
        _, offset = _read_v1_length_prefixed(level_bytes, offset)
    payload, offset = _read_v1_length_prefixed(level_bytes, offset)
    if offset != len(level_bytes):
        raise DBPSInvalidInputError("trailing bytes after V1 definition levels block")
    return payload


# ---------------------------------------------------------------------------
# Page attribute model + level/value splitting (parquet_utils.cpp:230-414)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PageAttributes:
    """Typed view of the reference's stringly ``encoding_attributes`` map
    (key set mirrors ``encryption_sequencer.cpp:260-303``)."""

    page_type: str
    num_values: int = 0
    max_definition_level: int = 0
    max_repetition_level: int = 0
    # V1
    definition_level_encoding: str = "RLE"
    repetition_level_encoding: str = "RLE"
    # V2
    definition_levels_byte_length: int = 0
    repetition_levels_byte_length: int = 0
    num_nulls: int = 0
    is_compressed: bool = True
    # dictionary page
    dict_num_values: int = 0

    @classmethod
    def from_string_map(cls, attrs: dict[str, str]) -> "PageAttributes":
        """Parse the stringly attribute map, validating required keys per
        page type exactly like ``ConvertEncodingAttributesToValues``."""

        def req(key: str) -> str:
            if key not in attrs:
                raise DBPSInvalidInputError(f"missing encoding attribute: {key}")
            return attrs[key]

        def req_int(key: str) -> int:
            try:
                v = int(req(key))
            except ValueError:
                raise DBPSInvalidInputError(
                    f"encoding attribute {key} is not an integer: {attrs[key]!r}"
                ) from None
            # every integer attribute is a count, level bound, or byte
            # length — all non-negative by the format; a negative value
            # here is attacker/typo input that would otherwise surface
            # as under-allocation deep in the parse paths
            if v < 0:
                raise DBPSInvalidInputError(
                    f"encoding attribute {key} is negative: {attrs[key]!r}"
                )
            return v

        def req_bool(key: str) -> bool:
            v = req(key).lower()
            if v not in ("true", "false"):
                raise DBPSInvalidInputError(
                    f"encoding attribute {key} is not a boolean: {attrs[key]!r}"
                )
            return v == "true"

        page_type = req("page_type")
        if page_type in (PAGE_V1, PAGE_V2):
            common = dict(
                num_values=req_int("data_page_num_values"),
                max_definition_level=req_int("data_page_max_definition_level"),
                max_repetition_level=req_int("data_page_max_repetition_level"),
            )
            if page_type == PAGE_V1:
                return cls(
                    page_type=page_type,
                    definition_level_encoding=req("page_v1_definition_level_encoding"),
                    repetition_level_encoding=req("page_v1_repetition_level_encoding"),
                    **common,
                )
            return cls(
                page_type=page_type,
                definition_levels_byte_length=req_int(
                    "page_v2_definition_levels_byte_length"
                ),
                repetition_levels_byte_length=req_int(
                    "page_v2_repetition_levels_byte_length"
                ),
                num_nulls=req_int("page_v2_num_nulls"),
                is_compressed=req_bool("page_v2_is_compressed"),
                **common,
            )
        if page_type == PAGE_DICT:
            return cls(page_type=page_type, dict_num_values=req_int("dict_page_num_values"))
        raise DBPSInvalidInputError(f"unexpected page type: {page_type}")


def calculate_level_bytes_length(raw: bytes, attrs: PageAttributes) -> int:
    """Length of the level-bytes span at the head of a page payload."""
    if attrs.page_type == PAGE_V2:
        total = attrs.definition_levels_byte_length + attrs.repetition_levels_byte_length
    elif attrs.page_type == PAGE_V1:
        if (
            attrs.repetition_level_encoding != "RLE"
            or attrs.definition_level_encoding != "RLE"
        ):
            raise DBPSInvalidInputError(
                "only RLE level encoding is valid for DATA_PAGE_V1"
            )
        offset = 0
        if attrs.max_repetition_level > 0:
            _, offset = _read_v1_length_prefixed(raw, offset)
        if attrs.max_definition_level > 0:
            _, offset = _read_v1_length_prefixed(raw, offset)
        total = offset
    elif attrs.page_type == PAGE_DICT:
        total = 0
    else:
        raise DBPSInvalidInputError(f"invalid page type: {attrs.page_type}")
    if total < 0 or total > len(raw):
        raise DBPSInvalidInputError(
            f"level bytes length {total} out of range for payload of {len(raw)}"
        )
    return total


@dataclass
class LevelAndValueBytes:
    level_bytes: bytes
    value_bytes: bytes
    num_elements: int


def decompress_and_split(
    payload: bytes, codec: CompressionCodec, attrs: PageAttributes
) -> LevelAndValueBytes:
    """Decompress a page payload and split level bytes from value bytes,
    computing the count of physically-present values."""
    if attrs.page_type == PAGE_V1:
        # whole payload compressed; count present values via def levels
        raw = comp.decompress(payload, codec)
        n_level = calculate_level_bytes_length(raw, attrs)
        level_bytes, value_bytes = raw[:n_level], raw[n_level:]
        if attrs.max_definition_level == 0:
            num_elements = attrs.num_values
        else:
            def_payload = read_definition_level_bytes_v1(
                level_bytes, attrs.max_repetition_level
            )
            num_elements = count_present_values_v1(
                def_payload, attrs.num_values, attrs.max_definition_level
            )
        return LevelAndValueBytes(level_bytes, value_bytes, num_elements)
    if attrs.page_type == PAGE_V2:
        # levels live outside the compressed region; nulls from header
        n_level = calculate_level_bytes_length(payload, attrs)
        level_bytes, value_part = payload[:n_level], payload[n_level:]
        value_bytes = (
            comp.decompress(value_part, codec) if attrs.is_compressed else value_part
        )
        if attrs.num_nulls > attrs.num_values:
            raise DBPSInvalidInputError(
                f"num_nulls {attrs.num_nulls} > num_values {attrs.num_values}"
            )
        return LevelAndValueBytes(
            level_bytes, value_bytes, attrs.num_values - attrs.num_nulls
        )
    if attrs.page_type == PAGE_DICT:
        return LevelAndValueBytes(b"", comp.decompress(payload, codec), attrs.dict_num_values)
    raise DBPSInvalidInputError(f"unexpected page type: {attrs.page_type}")


def compress_and_join(
    level_bytes: bytes,
    value_bytes: bytes,
    codec: CompressionCodec,
    attrs: PageAttributes,
) -> bytes:
    """Inverse of :func:`decompress_and_split` (``parquet_utils.cpp:377-414``)."""
    if attrs.page_type == PAGE_V1:
        return comp.compress(level_bytes + value_bytes, codec)
    if attrs.page_type == PAGE_V2:
        values = comp.compress(value_bytes, codec) if attrs.is_compressed else value_bytes
        return level_bytes + values
    if attrs.page_type == PAGE_DICT:
        if level_bytes:
            raise DBPSInvalidInputError("dictionary pages carry no level bytes")
        return comp.compress(value_bytes, codec)
    raise DBPSInvalidInputError(f"unexpected page type: {attrs.page_type}")


# ---------------------------------------------------------------------------
# Typed reinterpretation of PLAIN value bytes (parquet_utils.cpp:420-468)
# ---------------------------------------------------------------------------


def reinterpret_value_bytes(
    value_bytes: bytes,
    num_elements: int,
    datatype: PhysicalType,
    datatype_length: int | None,
    encoding: Encoding,
) -> tuple[np.ndarray, np.ndarray, int | None]:
    """View PLAIN value bytes as (flat uint8, offsets, fixed_size|None).

    Unsupported combinations raise :class:`DBPSUnsupportedError`, which the
    sequencer converts into per-block fallback — the exact contract of the
    reference (``parquet_utils.cpp:427-442``).
    """
    if encoding == Encoding.RLE_DICTIONARY:
        raise DBPSUnsupportedError(
            "RLE_DICTIONARY pages carry dictionary indices, not values"
        )
    if encoding != Encoding.PLAIN:
        raise DBPSUnsupportedError(f"per-value mode requires PLAIN, got {encoding.name}")
    if datatype == PhysicalType.BOOLEAN:
        raise DBPSUnsupportedError("BOOLEAN is bit-packed; per-value mode unsupported")

    flat = np.frombuffer(value_bytes, dtype=np.uint8)
    if datatype == PhysicalType.BYTE_ARRAY:
        packed, offsets = wire.parse_length_prefixed(
            flat, num_elements, what="BYTE_ARRAY values"
        )
        return packed, offsets, None

    if datatype == PhysicalType.FIXED_LEN_BYTE_ARRAY:
        if datatype_length is None or datatype_length <= 0:
            raise DBPSInvalidInputError(
                "FIXED_LEN_BYTE_ARRAY requires a positive datatype_length"
            )
        width = datatype_length
    else:
        width = datatype.fixed_width
        if width is None:
            raise DBPSUnsupportedError(f"unsupported datatype: {datatype.name}")
    if len(value_bytes) != num_elements * width:
        raise DBPSInvalidInputError(
            f"value bytes of {len(value_bytes)} != {num_elements} x {width}"
        )
    offsets = np.arange(num_elements + 1, dtype=np.int64) * width
    return flat, offsets, width


def value_buffer_to_bytes(
    flat: np.ndarray, offsets: np.ndarray, fixed_size: int | None
) -> bytes:
    """Typed buffer -> PLAIN value bytes (inverse of reinterpret)."""
    if fixed_size is not None:
        return flat.tobytes()
    # the shared C scatter — see wire.interleave_plain
    return wire.interleave_plain(flat, offsets).tobytes()


# ---------------------------------------------------------------------------
# The sequencer (encryption_sequencer.cpp:113-256)
# ---------------------------------------------------------------------------


@dataclass
class PageProtector:
    """Drives one page batch through decode -> per-value encrypt -> wire
    serialize, with per-block fallback for the documented unsupported
    combinations, stamping ``encryption_metadata`` exactly like the
    reference sequencer."""

    column_name: str
    key_id: str
    datatype: PhysicalType
    datatype_length: int | None = None
    compression: CompressionCodec = CompressionCodec.UNCOMPRESSED
    encoding: Encoding = Encoding.PLAIN
    encryptor_name: str = "keystream_xor"
    _encryptor: Encryptor = field(init=False, repr=False)

    def __post_init__(self):
        if not self.key_id:
            raise DBPSInvalidInputError("key_id cannot be null or empty")
        if self.datatype == PhysicalType.FIXED_LEN_BYTE_ARRAY:
            if self.datatype_length is None:
                raise DBPSInvalidInputError(
                    "FIXED_LEN_BYTE_ARRAY datatype requires datatype_length"
                )
            if self.datatype_length <= 0:
                raise DBPSInvalidInputError(
                    "FIXED_LEN_BYTE_ARRAY datatype_length must be positive"
                )
        self._encryptor = make_encryptor(self.encryptor_name, self.key_id)

    # -- helpers -------------------------------------------------------
    def _mode_key(self, attrs: PageAttributes) -> str:
        return (
            MODE_KEY_DICT_PAGE if attrs.page_type == PAGE_DICT else MODE_KEY_DATA_PAGE
        )

    def _fallback_allowed(self) -> bool:
        """Per-block fallback is legal only for the documented unsupported
        combinations (``encryption_sequencer.cpp:160-183``)."""
        compression_ok = self.compression in comp.SUPPORTED_CODECS
        encoding_ok = self.encoding == Encoding.PLAIN
        datatype_ok = self.datatype != PhysicalType.BOOLEAN
        return not (compression_ok and encoding_ok and datatype_ok)

    # -- encrypt -------------------------------------------------------
    def encrypt(
        self, plaintext: bytes, attrs: PageAttributes
    ) -> tuple[bytes, dict[str, str]]:
        """Returns (ciphertext, encryption_metadata). Raises DBPSError on
        invalid input; falls back to per-block for unsupported combos."""
        if not plaintext:
            raise DBPSInvalidInputError("plaintext cannot be null or empty")
        mode_key = self._mode_key(attrs)
        try:
            split = decompress_and_split(plaintext, self.compression, attrs)
            flat, offsets, fixed = reinterpret_value_bytes(
                split.value_bytes,
                split.num_elements,
                self.datatype,
                self.datatype_length,
                self.encoding,
            )
            enc_flat, enc_offsets = self._encryptor.encrypt_elements(
                flat, offsets, uniform_width=fixed
            )
            if self._encryptor.length_preserving:
                enc_fixed = fixed
            else:
                enc_fixed = None  # non-length-preserving ciphers emit variable
            value_wire = write_value_list(enc_flat, enc_offsets, enc_fixed)
            level_wire = self._encryptor.encrypt_block(split.level_bytes)
            ciphertext = join_with_length_prefix(level_wire, value_wire)
            metadata = {mode_key: MODE_PER_VALUE, DBPS_VERSION_KEY: DBPS_VERSION}
            return ciphertext, metadata
        except DBPSUnsupportedError:
            if not self._fallback_allowed():
                raise
            ciphertext = self._encryptor.encrypt_block(plaintext)
            metadata = {mode_key: MODE_PER_BLOCK, DBPS_VERSION_KEY: DBPS_VERSION}
            return ciphertext, metadata

    # -- decrypt -------------------------------------------------------
    def decrypt(
        self, ciphertext: bytes, attrs: PageAttributes, metadata: dict[str, str]
    ) -> bytes:
        """Inverse of :meth:`encrypt`; validates version + mode metadata
        first (``encryption_sequencer.cpp:198-256,335-365``)."""
        if not ciphertext:
            raise DBPSInvalidInputError("ciphertext cannot be null or empty")
        version = metadata.get(DBPS_VERSION_KEY)
        if version is None:
            raise DBPSInvalidInputError(
                f"encryption_metadata missing {DBPS_VERSION_KEY}"
            )
        # PREFIX match is deliberate reference parity
        # (encryption_sequencer.cpp:340 uses find(DBPS_VERSION) != 0),
        # so suffixed builds like "v0.01-rc1" validate identically in
        # both engines; an exact match here would reject what the
        # reference accepts
        if not version.startswith(DBPS_VERSION):
            raise DBPSInvalidInputError(
                f"unsupported {DBPS_VERSION_KEY}: {version!r}"
            )
        mode = metadata.get(self._mode_key(attrs))
        if mode is None:
            raise DBPSInvalidInputError("encryption_metadata missing encrypt mode")
        if mode == MODE_PER_BLOCK:
            return self._encryptor.decrypt_block(ciphertext)
        if mode != MODE_PER_VALUE:
            raise DBPSInvalidInputError(f"unknown encrypt mode: {mode!r}")

        level_wire, value_wire = split_with_length_prefix(ciphertext)
        level_bytes = self._encryptor.decrypt_block(level_wire)
        enc_flat, enc_offsets, enc_fixed = read_value_list(value_wire)
        flat, offsets = self._encryptor.decrypt_elements(enc_flat, enc_offsets)
        if self._encryptor.length_preserving:
            fixed = enc_fixed
        else:
            fixed = (
                self.datatype_length
                if self.datatype == PhysicalType.FIXED_LEN_BYTE_ARRAY
                else self.datatype.fixed_width
            )
        value_bytes = value_buffer_to_bytes(flat, offsets, fixed)
        return compress_and_join(level_bytes, value_bytes, self.compression, attrs)
