"""Remote protection agent — the reference's HTTP client path.

Mirrors ``RemoteDataBatchProtectionAgent`` (``src/common/dbpa_remote.cpp:
170-365``): config-driven construction, health check on init, a cached
JWT fetched via ``POST /token`` with a 30-second expiry skew
(``http_client_base.h:44-45``), request construction with a timestamp
``reference_id`` (``dbps_api_client.cpp:35-40``), and response/request
field cross-validation (``dbpa_remote.cpp:130-162``).

Each agent keeps one persistent HTTP/1.1 connection (``http.client``),
guarded by a lock, for the health check, ``/token`` and the data plane;
the reference keeps a per-URL pool of them (``httplib_pool_registry.h``).
There is no pool and no worker thread here: Spark executors supply the
parallelism, one agent per task. A request that fails on a *reused*
connection because the server closed it (idle timeout, error reply,
restart) is sent once more on a new connection; encrypt and decrypt
are idempotent, so the retry is safe. A new connection never retries.
Request bodies splice the base64 value into a small JSON envelope
(``json_model.dumps_with_value``), and response values are decoded by
the C helper's strict base64 decoder.
"""

from __future__ import annotations

import http.client
import json
import threading
import time

from ..agent import DecryptionResult, EncryptionResult, extract_page_encoding
from ..core.types import CompressionCodec, PhysicalType
from .json_model import decode_base64_safe, dumps_with_value

TOKEN_EXPIRY_SKEW_SECONDS = 30


class RemoteProtectionAgent:
    """Same interface contract as :class:`~..agent.LocalProtectionAgent`:
    ``init`` may raise, ``encrypt``/``decrypt`` never raise."""

    def __init__(self, timeout: float = 20.0):
        self._initialized = False
        self._timeout = timeout
        self._token: str | None = None
        self._token_expires_at = 0
        self._token_lock = threading.Lock()
        self._conn: http.client.HTTPConnection | None = None
        self._conn_lock = threading.Lock()

    # -- init ----------------------------------------------------------
    def init(
        self,
        connection_config: dict,
        column_name: str,
        column_key_id: str,
        datatype: PhysicalType,
        datatype_length: int | None,
        compression_type: CompressionCodec,
        user_id: str = "",
        application_context: str = "",
        column_encryption_metadata: dict[str, str] | None = None,
    ) -> None:
        """``connection_config`` mirrors the remote agent's JSON config
        (``dbpa_remote.cpp:371-468``): ``server_url`` +
        ``credentials.client_id`` / ``credentials.api_key``."""
        server_url = connection_config.get("server_url", "")
        if not server_url:
            raise ValueError("connection_config.server_url is required")
        if not user_id or not application_context:
            # the server's request model unconditionally requires both
            # (json_model._missing_common); accepting the empty defaults
            # here would make EVERY later encrypt/decrypt fail instead
            # of failing fast at init
            raise ValueError(
                "user_id and application_context are required for the "
                "remote agent (the server rejects empty values)"
            )
        creds = connection_config.get("credentials", {})
        self._server_url = server_url.rstrip("/")
        scheme, _, rest = self._server_url.partition("://")
        conn_cls = {
            "http": http.client.HTTPConnection,
            "https": http.client.HTTPSConnection,
        }.get(scheme.lower())
        if conn_cls is None or not rest:
            raise ValueError(f"server_url is not http(s)://host: {server_url!r}")
        host, _, prefix = rest.partition("/")
        self._path_prefix = "/" + prefix if prefix else ""
        self._conn = conn_cls(host, timeout=self._timeout)
        self._client_id = creds.get("client_id", "")
        self._api_key = creds.get("api_key", "")
        self.column_name = column_name
        self.column_key_id = column_key_id
        self.datatype = datatype
        self.datatype_length = datatype_length
        self.compression_type = compression_type
        self.user_id = user_id
        self.application_context = application_context
        self.column_encryption_metadata = column_encryption_metadata
        if not self.health_check():
            raise ConnectionError(
                f"health check failed for {self._server_url}/healthz"
            )
        self._initialized = True

    # -- http ----------------------------------------------------------
    def _request(
        self, method: str, path: str, body: bytes | None = None, headers=None
    ) -> tuple[int, bytes]:
        """(status, body) of one exchange on the persistent connection."""
        with self._conn_lock:
            conn = self._conn
            while True:
                reused = conn.sock is not None
                try:
                    conn.request(
                        method, self._path_prefix + path, body, headers or {}
                    )
                    resp = conn.getresponse()
                    return resp.status, resp.read()
                except (ConnectionResetError, BrokenPipeError):
                    # http.client.RemoteDisconnected is a ConnectionResetError
                    conn.close()
                    if not reused:
                        raise
                except BaseException:
                    conn.close()  # a half-done exchange would desync framing
                    raise

    def _post_json(
        self, path: str, body: bytes, auth: bool
    ) -> tuple[int, dict]:
        headers = {"Content-Type": "application/json"}
        if auth:
            headers["Authorization"] = f"Bearer {self._ensure_token()}"
        status, raw = self._request("POST", path, body, headers)
        try:
            return status, json.loads(raw or b"{}")
        except ValueError:
            if status == 200:
                raise
            return status, {}

    def health_check(self) -> bool:
        try:
            return self._request("GET", "/healthz")[0] == 200
        except (OSError, http.client.HTTPException):
            return False

    def _ensure_token(self) -> str:
        """Fetch-once token cache with expiry skew
        (``http_client_base.h:44-103``)."""
        with self._token_lock:
            now = int(time.time())
            if (
                self._token is not None
                and now < self._token_expires_at - TOKEN_EXPIRY_SKEW_SECONDS
            ):
                return self._token
            status, doc = self._post_json(
                "/token",
                json.dumps(
                    {"client_id": self._client_id, "api_key": self._api_key}
                ).encode(),
                auth=False,
            )
            if status != 200 or "token" not in doc:
                raise PermissionError(
                    f"token request failed ({status}): {doc.get('error', doc)}"
                )
            self._token = doc["token"]
            # servers that omit expires_at still issue JWTs with the
            # standard lifetime; falling back to `now` would expire the
            # cache instantly and double every data-plane request with
            # a /token round-trip
            from .auth import JWT_EXPIRATION_SECONDS

            self._token_expires_at = int(
                doc.get("expires_at", now + JWT_EXPIRATION_SECONDS)
            )
            return self._token

    # -- data plane ----------------------------------------------------
    def _common_request(self, encoding_attributes: dict[str, str]) -> dict:
        encoding = extract_page_encoding(encoding_attributes)
        return {
            "column_reference": {"name": self.column_name},
            "data_batch": {
                "datatype_info": {
                    "datatype": self.datatype.name,
                    **(
                        {"length": self.datatype_length}
                        if self.datatype_length is not None
                        else {}
                    ),
                },
                "value_format": {
                    "compression": self.compression_type.name,
                    # NB: Encoding.PLAIN == 0 is falsy; test identity
                    "encoding": encoding.name if encoding is not None else "",
                    "encoding_attributes": dict(encoding_attributes),
                },
            },
            "data_batch_encrypted": {
                "value_format": {"compression": self.compression_type.name}
            },
            "encryption": {"key_id": self.column_key_id},
            "access": {"user_id": self.user_id},
            "application_context": self.application_context,
            "debug": {"reference_id": generate_reference_id()},
        }

    def encrypt(
        self, plaintext: bytes, encoding_attributes: dict[str, str]
    ) -> EncryptionResult:
        if not self._initialized:
            return EncryptionResult(
                error_message="agent not initialized; call init() first",
                error_fields={"stage": "init"},
            )
        try:
            body = dumps_with_value(
                self._common_request(encoding_attributes),
                ("data_batch", "value"),
                plaintext,
            )
            status, doc = self._post_json("/encrypt", body, auth=True)
            if status != 200:
                return EncryptionResult(
                    error_message=doc.get("error_string", f"HTTP {status}"),
                    error_fields={"stage": "encrypt", "status": str(status)},
                )
            # response/request cross-validation (dbpa_remote.cpp:286-296)
            echoed_user = doc.get("access", {}).get("user_id")
            if echoed_user != self.user_id:
                return EncryptionResult(
                    error_message="response user_id does not match request",
                    error_fields={"field": "access.user_id"},
                )
            value = doc.get("data_batch_encrypted", {}).get("value", "")
            ciphertext = decode_base64_safe(value)
            if ciphertext is None:
                return EncryptionResult(
                    error_message="response value is not valid base64",
                    error_fields={"field": "data_batch_encrypted.value"},
                )
            return EncryptionResult(
                ciphertext=ciphertext,
                encryption_metadata=doc.get("encryption_metadata", {}),
            )
        except Exception as e:  # noqa: BLE001 — contract: never raise
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
        try:
            payload = self._common_request(encoding_attributes)
            payload["encryption_metadata"] = dict(self.column_encryption_metadata)
            body = dumps_with_value(
                payload, ("data_batch_encrypted", "value"), ciphertext
            )
            status, doc = self._post_json("/decrypt", body, auth=True)
            if status != 200:
                return DecryptionResult(
                    error_message=doc.get("error_string", f"HTTP {status}"),
                    error_fields={"stage": "decrypt", "status": str(status)},
                )
            batch = doc.get("data_batch", {})
            # datatype echo check (dbpa_remote.cpp:343-361)
            echoed = batch.get("datatype_info", {}).get("datatype")
            if echoed != self.datatype.name:
                return DecryptionResult(
                    error_message="response datatype does not match request",
                    error_fields={"field": "data_batch.datatype_info.datatype"},
                )
            plaintext = decode_base64_safe(batch.get("value", ""))
            if plaintext is None:
                return DecryptionResult(
                    error_message="response value is not valid base64",
                    error_fields={"field": "data_batch.value"},
                )
            return DecryptionResult(plaintext=plaintext)
        except Exception as e:  # noqa: BLE001 — contract: never raise
            return DecryptionResult(
                error_message=str(e), error_fields={"stage": "decrypt"}
            )


def generate_reference_id() -> str:
    """Timestamp-based correlation id (``dbps_api_client.cpp:35-40``)."""
    return time.strftime("%Y%m%d%H%M%S") + f"{time.time_ns() % 1_000_000_000:09d}"
