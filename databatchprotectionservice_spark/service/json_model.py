"""Swagger-shaped JSON request/response model.

Field paths and validation mirror ``src/common/json_request.cpp:265-409``
(encrypt) and ``:483-530`` (decrypt); the schema is
``src/common/swagger.yaml``. Values cross the wire as base64 strings
inside JSON (``json_request.cpp:123-144,393-397``). Envelopes that
carry a value are written by :func:`dumps_with_value`, so the value's
base64 never passes through ``json.dumps``; values are read by the C
helper's strict decoder.
"""

from __future__ import annotations

import base64
import json
from dataclasses import dataclass, field

from ..core import _native
from ..core.types import (
    CompressionCodec,
    Encoding,
    PhysicalType,
    to_compression_codec,
    to_encoding,
    to_physical_type,
)


def _get_path(doc, *path):
    cur = doc
    for key in path:
        if not isinstance(cur, dict) or key not in cur:
            return None
        cur = cur[key]
    return cur


def decode_base64_safe(value: str) -> bytes | None:
    """The bytes of canonical RFC 4648 section 4 base64, else None."""
    try:
        text = value.encode("ascii")
    except (AttributeError, UnicodeError):
        return None
    return _native.b64decode(text)


def dumps_with_value(doc: dict, path: tuple[str, ...], value: bytes) -> bytes:
    """``json.dumps`` of ``doc`` with ``b64encode(value)`` as the string at
    ``path``, UTF-8 encoded. Only the small envelope goes through
    ``json.dumps``: its leaf is an empty string, moved last along the
    path so that it sits just before the closing braces, and the base64
    bytes, which need no JSON escaping, are spliced in there."""

    def value_last(node: dict, keys: tuple[str, ...]) -> dict:
        key, rest = keys[0], keys[1:]
        out = {k: v for k, v in node.items() if k != key}
        out[key] = value_last(node.get(key, {}), rest) if rest else ""
        return out

    text = json.dumps(value_last(doc, path)).encode()
    cut = len(text) - len(path) - 1  # the leaf's closing quote
    return b"".join((text[:cut], base64.b64encode(value), text[cut:]))


@dataclass
class JsonRequest:
    """Common fields of both endpoints (``json_request.cpp:265-369``)."""

    column_name: str = ""
    datatype: PhysicalType | None = None
    datatype_length: int | None = None
    datatype_length_str: str = ""
    compression: CompressionCodec | None = None
    encoding: Encoding | None = None
    encrypted_compression: CompressionCodec | None = None
    key_id: str = ""
    user_id: str = ""
    application_context: str = ""
    reference_id: str = ""
    encoding_attributes: dict[str, str] = field(default_factory=dict)
    parse_ok: bool = True

    def parse_common(self, doc) -> None:
        if not isinstance(doc, dict):
            self.parse_ok = False
            return
        if (v := _get_path(doc, "column_reference", "name")) is not None:
            self.column_name = str(v)
        if (v := _get_path(doc, "data_batch", "datatype_info", "datatype")) is not None:
            try:
                self.datatype = to_physical_type(str(v))
            except ValueError:
                pass
        if (v := _get_path(doc, "data_batch", "datatype_info", "length")) is not None:
            # exact integers only: int(3.5) would silently truncate a
            # fractional JSON length (and int(True) == 1) instead of
            # taking the invalid-integer error path
            if isinstance(v, bool) or (
                isinstance(v, float) and not v.is_integer()
            ):
                self.datatype_length_str = str(v)
            else:
                try:
                    self.datatype_length = int(v)
                except (ValueError, TypeError):
                    self.datatype_length_str = str(v)
        fmt = _get_path(doc, "data_batch", "value_format") or {}
        if (v := fmt.get("compression")) is not None:
            try:
                self.compression = to_compression_codec(str(v))
            except ValueError:
                pass
        # the C++ parser reads "encoding"; the swagger examples say
        # "format" — accept either (json_request.cpp:294 vs swagger.yaml)
        enc = fmt.get("encoding", fmt.get("format"))
        if enc is not None:
            try:
                self.encoding = to_encoding(str(enc))
            except ValueError:
                pass
        if (v := _get_path(doc, "data_batch_encrypted", "value_format", "compression")) is not None:
            try:
                self.encrypted_compression = to_compression_codec(str(v))
            except ValueError:
                pass
        if (v := _get_path(doc, "encryption", "key_id")) is not None:
            self.key_id = str(v)
        if (v := _get_path(doc, "access", "user_id")) is not None:
            self.user_id = str(v)
        if (v := _get_path(doc, "application_context")) is not None:
            self.application_context = v if isinstance(v, str) else json.dumps(v)
        if (v := _get_path(doc, "debug", "reference_id")) is not None:
            self.reference_id = str(v)
        attrs = _get_path(doc, "data_batch", "value_format", "encoding_attributes")
        if isinstance(attrs, dict):
            self.encoding_attributes = {k: str(v) for k, v in attrs.items()}

    def _missing_common(self) -> list[str]:
        missing = []
        if not self.column_name:
            missing.append("column_reference.name")
        if self.datatype is None:
            missing.append("data_batch.datatype_info.datatype")
        if self.compression is None:
            missing.append("data_batch.value_format.compression")
        if self.encoding is None:
            missing.append("data_batch.value_format.encoding")
        if self.encrypted_compression is None:
            missing.append("data_batch_encrypted.value_format.compression")
        if not self.key_id:
            missing.append("encryption.key_id")
        if not self.user_id:
            missing.append("access.user_id")
        if not self.application_context:
            missing.append("application_context")
        if not self.reference_id:
            missing.append("debug.reference_id")
        if self.datatype_length_str:
            missing.append("data_batch.datatype_info.length (invalid integer value)")
        return missing

    def is_valid(self) -> bool:
        return self.parse_ok and not self.get_validation_error()

    def get_validation_error(self) -> str:
        if not self.parse_ok:
            return "Invalid JSON in request body"
        missing = self._missing_common()
        if missing:
            # reference wording is always plural (json_request.cpp:98)
            return "Missing required fields: " + ", ".join(missing)
        return ""


@dataclass
class EncryptJsonRequest(JsonRequest):
    value: bytes = b""
    _value_present: bool = False

    @classmethod
    def parse(cls, request_body: str) -> "EncryptJsonRequest":
        req = cls()
        try:
            doc = json.loads(request_body)
        except ValueError:
            req.parse_ok = False
            return req
        req.parse_common(doc)
        # only a JSON string carries base64; a number, boolean or object
        # leaves the value unset, so validation reports it missing
        v = _get_path(doc, "data_batch", "value")
        if isinstance(v, str):
            decoded = decode_base64_safe(v)
            if decoded is not None:
                req.value = decoded
                req._value_present = True
        return req

    def get_validation_error(self) -> str:
        base = super().get_validation_error()
        if base:
            return base
        if not self._value_present or not self.value:
            return "Missing required field: data_batch.value"
        return ""


@dataclass
class DecryptJsonRequest(JsonRequest):
    encrypted_value: bytes = b""
    encryption_metadata: dict[str, str] = field(default_factory=dict)

    @classmethod
    def parse(cls, request_body: str) -> "DecryptJsonRequest":
        req = cls()
        try:
            doc = json.loads(request_body)
        except ValueError:
            req.parse_ok = False
            return req
        req.parse_common(doc)
        v = _get_path(doc, "data_batch_encrypted", "value")
        if isinstance(v, str):
            decoded = decode_base64_safe(v)
            if decoded is not None:
                req.encrypted_value = decoded
        meta = doc.get("encryption_metadata") if isinstance(doc, dict) else None
        if isinstance(meta, dict):
            req.encryption_metadata = {k: str(v) for k, v in meta.items()}
        return req

    def get_validation_error(self) -> str:
        base = super().get_validation_error()
        if base:
            return base
        if not self.encrypted_value:
            return "Missing required field: data_batch_encrypted.value"
        return ""


# ---------------------------------------------------------------------------
# responses (swagger.yaml /encrypt /decrypt 200 envelopes)
# ---------------------------------------------------------------------------


def _access_block(user_id: str) -> dict:
    # role/access are hard-coded "granted" like dbps_api_server.cpp:194-208
    return {"user_id": user_id, "role": "granted", "access_control": "granted"}


def build_encrypt_response(
    req: EncryptJsonRequest,
    ciphertext: bytes,
    encryption_metadata: dict[str, str],
) -> bytes:
    """The 200 body of ``/encrypt``, carrying ``ciphertext``."""
    resp = {
        "data_batch_encrypted": {
            "value_format": {
                # UNCOMPRESSED == 0 is falsy; `or` would mis-fall-through
                "compression": (
                    req.encrypted_compression
                    if req.encrypted_compression is not None
                    else req.compression
                ).name
            },
        },
        "access": _access_block(req.user_id),
        "encryption_metadata": dict(encryption_metadata),
    }
    if req.reference_id:
        resp["debug"] = {"reference_id": req.reference_id}
    return dumps_with_value(resp, ("data_batch_encrypted", "value"), ciphertext)


def build_decrypt_response(req: DecryptJsonRequest, plaintext: bytes) -> bytes:
    """The 200 body of ``/decrypt``, carrying ``plaintext``."""
    resp = {
        "data_batch": {
            "datatype_info": {"datatype": req.datatype.name},
            "value_format": {
                "compression": req.compression.name,
                "encoding": req.encoding.name,
            },
        },
        "access": _access_block(req.user_id),
    }
    if req.reference_id:
        resp["debug"] = {"reference_id": req.reference_id}
    return dumps_with_value(resp, ("data_batch", "value"), plaintext)


def build_error_response(error_string: str, error_code: str | None = None) -> dict:
    resp = {"error_string": error_string}
    if error_code:
        resp["error_code"] = error_code
    return resp
