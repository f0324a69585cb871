"""Protection agent — the embeddable API surface of the engine.

Mirrors the contract of the reference's
``DataBatchProtectionAgentInterface`` (``src/common/dbpa_interface.h:96-161``)
and its in-process implementation (``src/common/dbpa_local.cpp:112-262``):

* ``init(...)`` configures the agent per column (name, config map,
  app-context JSON carrying ``user_id``, key id, datatype, optional
  datatype length, compression) and may raise on invalid parameters.
* ``encrypt`` / ``decrypt`` NEVER raise (``dbpa_interface.h:45-53``) —
  errors surface via result objects with ``success`` / ``error_message`` /
  ``error_fields``.
* The page encoding is carried per call inside ``encoding_attributes``
  under the key ``page_encoding`` (``dbpa_utils.h:66-82``), along with the
  page-type attributes consumed by the sequencer.

On top of the byte-level parity API, :class:`DataFrameProtectionAgent`
exposes the Spark-native surface: protect/unprotect whole DataFrame columns
with the vectorized UDFs from ``functions/protect.py``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from .core.errors import DBPSError, DBPSInvalidInputError
from .core.pagecodec import PageAttributes, PageProtector
from .core.types import (
    CompressionCodec,
    Encoding,
    PhysicalType,
    to_encoding,
)


@dataclass(frozen=True)
class EncryptionResult:
    """Mirrors ``EncryptionResult`` (``dbpa_interface.h:56-76``)."""

    ciphertext: bytes = b""
    encryption_metadata: dict[str, str] | None = None
    error_message: str = ""
    error_fields: dict[str, str] = field(default_factory=dict)

    @property
    def success(self) -> bool:
        return not self.error_message

    @property
    def size(self) -> int:
        return len(self.ciphertext)


@dataclass(frozen=True)
class DecryptionResult:
    """Mirrors ``DecryptionResult`` (``dbpa_interface.h:78-94``)."""

    plaintext: bytes = b""
    error_message: str = ""
    error_fields: dict[str, str] = field(default_factory=dict)

    @property
    def success(self) -> bool:
        return not self.error_message

    @property
    def size(self) -> int:
        return len(self.plaintext)


def extract_user_id(app_context: str) -> str | None:
    """``user_id`` travels inside the app-context JSON
    (``dbpa_utils.h:43-56``)."""
    try:
        doc = json.loads(app_context)
    except (json.JSONDecodeError, TypeError):
        return None
    user_id = doc.get("user_id") if isinstance(doc, dict) else None
    if isinstance(user_id, str) and user_id:
        return user_id
    return None


def extract_page_encoding(encoding_attributes: dict[str, str]) -> Encoding | None:
    """Per-call encoding under key ``page_encoding`` (``dbpa_utils.h:66-82``)."""
    name = encoding_attributes.get("page_encoding")
    if name is None:
        return None
    try:
        return to_encoding(name)
    except ValueError:
        return None


class LocalProtectionAgent:
    """In-process agent (the analogue of ``LocalDataBatchProtectionAgent``).

    ``init`` may raise :class:`DBPSInvalidInputError`; ``encrypt`` and
    ``decrypt`` never raise.
    """

    def __init__(self) -> None:
        self._initialized = False

    def init(
        self,
        column_name: str,
        configuration_map: dict[str, str],
        app_context: str,
        column_key_id: str,
        datatype: PhysicalType,
        datatype_length: int | None,
        compression_type: CompressionCodec,
        column_encryption_metadata: dict[str, str] | None = None,
    ) -> None:
        if not column_key_id:
            raise DBPSInvalidInputError("column_key_id cannot be empty")
        self.column_name = column_name
        self.configuration_map = dict(configuration_map)
        self.app_context = app_context
        self.user_id = extract_user_id(app_context) or ""
        self.column_key_id = column_key_id
        self.datatype = datatype
        self.datatype_length = datatype_length
        self.compression_type = compression_type
        self.column_encryption_metadata = (
            dict(column_encryption_metadata) if column_encryption_metadata else None
        )
        self.encryptor_name = self.configuration_map.get("encryptor", "keystream_xor")
        self._initialized = True

    @property
    def encryption_metadata(self) -> dict[str, str] | None:
        """Metadata provided at init, used for decrypt
        (``dbpa_interface.h:141-149``)."""
        return self.column_encryption_metadata

    def _build_protector(self, encoding: Encoding) -> PageProtector:
        return PageProtector(
            column_name=self.column_name,
            key_id=self.column_key_id,
            datatype=self.datatype,
            datatype_length=self.datatype_length,
            compression=self.compression_type,
            encoding=encoding,
            encryptor_name=self.encryptor_name,
        )

    def encrypt(
        self, plaintext: bytes, encoding_attributes: dict[str, str]
    ) -> EncryptionResult:
        if not self._initialized:
            return EncryptionResult(
                error_message="agent not initialized; call init() first",
                error_fields={"stage": "init"},
            )
        encoding = extract_page_encoding(encoding_attributes)
        if encoding is None:
            return EncryptionResult(
                error_message="missing or invalid page_encoding attribute",
                error_fields={"field": "page_encoding"},
            )
        try:
            attrs = PageAttributes.from_string_map(encoding_attributes)
            ciphertext, metadata = self._build_protector(encoding).encrypt(
                plaintext, attrs
            )
            return EncryptionResult(ciphertext=ciphertext, encryption_metadata=metadata)
        except DBPSError as e:
            return EncryptionResult(
                error_message=str(e), error_fields={"stage": "encrypt"}
            )

    def decrypt(
        self, ciphertext: bytes, encoding_attributes: dict[str, str]
    ) -> DecryptionResult:
        if not self._initialized:
            return DecryptionResult(
                error_message="agent not initialized; call init() first",
                error_fields={"stage": "init"},
            )
        if self.column_encryption_metadata is None:
            return DecryptionResult(
                error_message="decrypt requires column_encryption_metadata from init",
                error_fields={"field": "column_encryption_metadata"},
            )
        encoding = extract_page_encoding(encoding_attributes)
        if encoding is None:
            return DecryptionResult(
                error_message="missing or invalid page_encoding attribute",
                error_fields={"field": "page_encoding"},
            )
        try:
            attrs = PageAttributes.from_string_map(encoding_attributes)
            plaintext = self._build_protector(encoding).decrypt(
                ciphertext, attrs, self.column_encryption_metadata
            )
            return DecryptionResult(plaintext=plaintext)
        except DBPSError as e:
            return DecryptionResult(
                error_message=str(e), error_fields={"stage": "decrypt"}
            )


def create_new_instance() -> LocalProtectionAgent:
    """Factory entry point, the analogue of the C shared-lib export
    (``dbps_local_shared_lib_wrapper.cpp:25-29``)."""
    return LocalProtectionAgent()


class DataFrameProtectionAgent:
    """Spark-native agent: protect/unprotect logical DataFrame columns.

    The per-column config mirrors the reference's per-column ``init`` but
    the data plane is the vectorized Arrow UDF (``functions/protect.py``)
    instead of page bytes; Spark's reader/writer owns page framing.
    """

    def __init__(self, encryptor: str = "keystream_xor"):
        self.encryptor = encryptor
        self._columns: dict[str, dict] = {}

    def register_column(self, column_name: str, key_id: str, spark_type) -> None:
        self._columns[column_name] = {"key_id": key_id, "type": spark_type}

    def protect(self, df, columns: list[str] | None = None):
        from .functions.protect import protect_column

        # `is None`, not falsy: an explicit empty list means "protect
        # nothing", not "protect everything"
        for name in list(self._columns) if columns is None else columns:
            cfg = self._columns[name]
            df = protect_column(df, name, cfg["key_id"], self.encryptor)
        return df

    def unprotect(self, df, columns: list[str] | None = None):
        from .functions.protect import unprotect_column

        for name in list(self._columns) if columns is None else columns:
            cfg = self._columns[name]
            df = unprotect_column(df, name, cfg["type"], cfg["key_id"], self.encryptor)
        return df
