"""HTTP API server — the reference's endpoint surface on stdlib http.server.

Routes mirror ``src/server/dbps_api_server.cpp:110-284``: ``GET /healthz``,
``GET /statusz`` (JWT-gated), ``POST /token``, ``POST /encrypt``,
``POST /decrypt`` (both JWT-gated), with the same error envelope. The
data plane drives :class:`~..core.pagecodec.PageProtector` per request —
one column batch per call, exactly like the sequencer
(``encryption_sequencer.cpp:113-256``).

A ``ThreadingHTTPServer`` replaces Crow's multithreaded loop: each
connection is handled on its own thread, matching ``app.multithreaded()``
(``dbps_api_server.cpp:284``). Connections are persistent HTTP/1.1: a
client sends request after request on one socket, so the per-connection
thread start is paid once per client, not per request. Every reply
carries ``Content-Length`` and goes out with Nagle's algorithm off
(``TCP_NODELAY``), so a reply never waits on the client's delayed ACK.
A connection idle for ``IDLE_TIMEOUT_S`` (60 s, the reference client
pool's idle timeout, ``httplib_pool_registry.h:36-45``) is closed, and
so is one whose reply is an error: its body may be unread or its
framing broken. HTTP/1.0 clients get one request per connection, as
before. ``stop()`` also closes the connections still open.
"""

from __future__ import annotations

import json
import socket
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..core.errors import DBPSError
from ..core.pagecodec import PageAttributes, PageProtector
from .auth import ClientCredentialStore
from .json_model import (
    DecryptJsonRequest,
    EncryptJsonRequest,
    build_decrypt_response,
    build_encrypt_response,
    build_error_response,
)

DEFAULT_ENCRYPTOR = "keystream_xor"

#: seconds a keep-alive connection may sit idle before the server closes it
IDLE_TIMEOUT_S = 60


def _protector_from_request(req, encryptor: str) -> PageProtector:
    return PageProtector(
        column_name=req.column_name,
        key_id=req.key_id,
        datatype=req.datatype,
        datatype_length=req.datatype_length,
        compression=req.compression,
        encoding=req.encoding,
        encryptor_name=encryptor,
    )


class _Handler(BaseHTTPRequestHandler):
    server_version = "dbps-spark/0.1"
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True
    timeout = IDLE_TIMEOUT_S

    # injected by ProtectionApiServer
    credential_store: ClientCredentialStore
    encryptor: str = DEFAULT_ENCRYPTOR

    def log_message(self, fmt, *args):  # quiet by default
        pass

    # -- helpers -------------------------------------------------------
    def _reply(
        self, status: int, body: bytes, content_type: str = "application/json"
    ) -> None:
        self.send_response(status)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        # an error may leave the request body unread (rejected before it
        # was read) or its framing broken: end the connection after it
        if status >= 400 or self.close_connection:
            self.send_header("Connection", "close")
        self.end_headers()
        self.wfile.write(body)

    def _reply_json(self, status: int, doc: dict) -> None:
        self._reply(status, json.dumps(doc).encode())

    def _error(self, message: str, status: int = 400) -> None:
        self._reply_json(status, build_error_response(message))

    #: request-body ceiling; far above any real page batch, far below a
    #: Content-Length that could pin a handler thread or its memory
    MAX_BODY_BYTES = 256 << 20

    def _read_body(self) -> str:
        # Content-Length is attacker-controlled: a negative value would
        # make rfile.read(-1) block until client EOF (slow-loris thread
        # pinning) and a non-numeric one raised an uncaught ValueError
        raw = self.headers.get("Content-Length") or "0"
        try:
            length = int(raw)
        except ValueError:
            length = -1
        if length < 0 or length > self.MAX_BODY_BYTES:
            raise ValueError(f"invalid Content-Length: {raw!r}")
        return self.rfile.read(length).decode() if length else ""

    def _authorized(self) -> bool:
        err = self.credential_store.verify_token_for_endpoint(
            self.headers.get("Authorization", "")
        )
        if err is not None:
            self._error(err, 401)
            return False
        return True

    # -- routes --------------------------------------------------------
    def do_GET(self):
        if self.path == "/healthz":
            self._reply(200, b"OK", "text/plain")
        elif self.path == "/statusz":
            if not self._authorized():
                return
            self._reply_json(
                200,
                {
                    "enable_credential_check": self.credential_store.enable_credential_check
                },
            )
        else:
            self._error("Not found", 404)

    def do_POST(self):
        try:
            return self._route_post()
        except ValueError as exc:
            # malformed framing (e.g. a hostile Content-Length) gets a
            # 400 envelope instead of a dead handler thread
            return self._error(str(exc))

    def _route_post(self):
        if self.path == "/token":
            resp = self.credential_store.process_token_request(self._read_body())
            self._reply_json(resp.error_status_code, resp.to_json())
        elif self.path == "/encrypt":
            if not self._authorized():
                return
            self._handle_encrypt()
        elif self.path == "/decrypt":
            if not self._authorized():
                return
            self._handle_decrypt()
        else:
            self._error("Not found", 404)

    def _handle_encrypt(self):
        req = EncryptJsonRequest.parse(self._read_body())
        if not req.is_valid():
            return self._error(req.get_validation_error())
        try:
            attrs = PageAttributes.from_string_map(req.encoding_attributes)
            protector = _protector_from_request(req, self.encryptor)
            ciphertext, metadata = protector.encrypt(req.value, attrs)
        except DBPSError as e:
            return self._error(str(e))
        self._reply(200, build_encrypt_response(req, ciphertext, metadata))

    def _handle_decrypt(self):
        req = DecryptJsonRequest.parse(self._read_body())
        if not req.is_valid():
            return self._error(req.get_validation_error())
        try:
            attrs = PageAttributes.from_string_map(req.encoding_attributes)
            protector = _protector_from_request(req, self.encryptor)
            plaintext = protector.decrypt(
                req.encrypted_value, attrs, req.encryption_metadata
            )
        except DBPSError as e:
            return self._error(str(e))
        self._reply(200, build_decrypt_response(req, plaintext))


class _Server(ThreadingHTTPServer):
    """Keeps the open connections, so that closing the server closes them
    too instead of leaving their threads serving."""

    def __init__(self, *args):
        self._open: set[socket.socket] = set()
        self._open_lock = threading.Lock()
        super().__init__(*args)

    def process_request(self, request, client_address):
        with self._open_lock:
            self._open.add(request)
        super().process_request(request, client_address)

    def shutdown_request(self, request):
        with self._open_lock:
            self._open.discard(request)
        super().shutdown_request(request)

    def handle_error(self, request, client_address):
        # a peer that resets or drops a keep-alive connection just ends it
        if not isinstance(sys.exc_info()[1], (ConnectionResetError, BrokenPipeError)):
            super().handle_error(request, client_address)

    def server_close(self):
        super().server_close()
        with self._open_lock:
            for sock in self._open:
                try:
                    sock.shutdown(socket.SHUT_RDWR)
                except OSError:
                    pass


class ProtectionApiServer:
    """Embeddable server: ``with ProtectionApiServer(store) as url: ...``."""

    def __init__(
        self,
        credential_store: ClientCredentialStore,
        host: str = "127.0.0.1",
        port: int = 0,
        encryptor: str = DEFAULT_ENCRYPTOR,
    ):
        handler = type(
            "BoundHandler",
            (_Handler,),
            {"credential_store": credential_store, "encryptor": encryptor},
        )
        self._httpd = _Server((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "ProtectionApiServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> str:
        self.start()
        return self.url

    def __exit__(self, *exc) -> None:
        self.stop()
