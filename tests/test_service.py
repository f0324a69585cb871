"""Service layer: JWT auth, JSON model validation, HTTP round-trips."""

import json
import threading
import time
import urllib.request

import pytest

from databatchprotectionservice_spark.core.types import (
    CompressionCodec,
    PhysicalType,
)
from databatchprotectionservice_spark.service import (
    ClientCredentialStore,
    DecryptJsonRequest,
    EncryptJsonRequest,
    ProtectionApiServer,
    RemoteProtectionAgent,
)
from databatchprotectionservice_spark.service.auth import issue_jwt, verify_jwt
from tests.pagebuilders import build_v1_page

SECRET = "test-secret"


@pytest.fixture(scope="module")
def store():
    s = ClientCredentialStore(jwt_secret_key=SECRET)
    s.add_credential("client1", "key1")
    return s


@pytest.fixture(scope="module")
def server(store):
    srv = ProtectionApiServer(store)
    srv.start()
    yield srv
    srv.stop()


def _post(url, payload, token=None):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode() or "{}")


# -- auth ----------------------------------------------------------------


def test_jwt_roundtrip():
    now = int(time.time())
    tok = issue_jwt({"client_id": "c", "iat": now, "exp": now + 60}, SECRET)
    assert verify_jwt(tok, SECRET) == "c"
    assert verify_jwt(tok, "wrong-secret") is None
    assert verify_jwt(tok + "x", SECRET) is None


def test_jwt_expired():
    now = int(time.time())
    tok = issue_jwt({"client_id": "c", "iat": now - 120, "exp": now - 60}, SECRET)
    assert verify_jwt(tok, SECRET) is None


def test_token_endpoint(server, store):
    status, doc = _post(server.url + "/token", {"client_id": "client1", "api_key": "key1"})
    assert status == 200
    assert doc["token_type"] == "Bearer"
    assert doc["expires_at"] > time.time() + 14000
    assert verify_jwt(doc["token"], SECRET) == "client1"


def test_token_endpoint_bad_credentials(server):
    status, doc = _post(server.url + "/token", {"client_id": "client1", "api_key": "nope"})
    assert status == 401
    assert "Invalid credentials" in doc["error"]


def test_protected_endpoints_require_token(server):
    status, doc = _post(server.url + "/encrypt", {})
    assert status == 401
    assert "JWT token is missing" in doc["error_string"]


def test_healthz_open(server):
    with urllib.request.urlopen(server.url + "/healthz", timeout=10) as resp:
        assert resp.status == 200
        assert resp.read() == b"OK"


# -- JSON model ----------------------------------------------------------


def _encrypt_request_body(page_b64, attrs):
    return {
        "column_reference": {"name": "email"},
        "data_batch": {
            "datatype_info": {"datatype": "BYTE_ARRAY"},
            "value_format": {
                "compression": "UNCOMPRESSED",
                "encoding": "PLAIN",
                "encoding_attributes": attrs,
            },
            "value": page_b64,
        },
        "data_batch_encrypted": {"value_format": {"compression": "UNCOMPRESSED"}},
        "encryption": {"key_id": "EMAIL_KEY_001"},
        "access": {"user_id": "user123"},
        "application_context": '{"user_id": "user123"}',
        "debug": {"reference_id": "ref-1"},
    }


def test_json_model_field_validation():
    req = EncryptJsonRequest.parse(json.dumps({"data_batch": {}}))
    err = req.get_validation_error()
    for fieldname in (
        "column_reference.name",
        "data_batch.datatype_info.datatype",
        "encryption.key_id",
    ):
        assert fieldname in err
    assert not req.is_valid()


def test_json_model_invalid_json():
    assert (
        EncryptJsonRequest.parse("{not json").get_validation_error()
        == "Invalid JSON in request body"
    )


def test_json_model_swagger_format_alias():
    """swagger examples use value_format.format; C++ reads .encoding."""
    body = _encrypt_request_body("QUJD", {})
    body["data_batch"]["value_format"]["format"] = body["data_batch"][
        "value_format"
    ].pop("encoding")
    req = EncryptJsonRequest.parse(json.dumps(body))
    assert req.encoding is not None


def test_decrypt_request_requires_value():
    req = DecryptJsonRequest.parse(json.dumps(_encrypt_request_body("QUJD", {})))
    assert "data_batch_encrypted.value" in req.get_validation_error()


# -- end-to-end over HTTP ------------------------------------------------


def _page_and_attrs():
    page, attrs = build_v1_page(
        ["alice@example.com", "bob@example.com", "碧@example.com", ""],
        PhysicalType.BYTE_ARRAY,
        CompressionCodec.UNCOMPRESSED,
    )
    return page, attrs


def test_http_encrypt_decrypt_roundtrip(server):
    import base64

    page, attrs = _page_and_attrs()
    _, tok = _post(server.url + "/token", {"client_id": "client1", "api_key": "key1"})
    body = _encrypt_request_body(base64.b64encode(page).decode(), attrs)
    status, enc = _post(server.url + "/encrypt", body, tok["token"])
    assert status == 200, enc
    assert enc["access"] == {
        "user_id": "user123",
        "role": "granted",
        "access_control": "granted",
    }
    assert enc["encryption_metadata"]["encrypt_mode_data_page"] == "per_value"
    assert enc["debug"]["reference_id"] == "ref-1"

    dec_body = _encrypt_request_body("", attrs)
    del dec_body["data_batch"]["value"]
    dec_body["data_batch_encrypted"]["value"] = enc["data_batch_encrypted"]["value"]
    dec_body["encryption_metadata"] = enc["encryption_metadata"]
    status, dec = _post(server.url + "/decrypt", dec_body, tok["token"])
    assert status == 200, dec
    assert base64.b64decode(dec["data_batch"]["value"]) == page


def test_http_encrypt_validation_error(server):
    _, tok = _post(server.url + "/token", {"client_id": "client1", "api_key": "key1"})
    status, doc = _post(server.url + "/encrypt", {"data_batch": {}}, tok["token"])
    assert status == 400
    assert "Missing required field" in doc["error_string"]


# -- remote agent --------------------------------------------------------


@pytest.fixture()
def remote_agent(server):
    return RemoteProtectionAgent()


def test_remote_agent_roundtrip(server, remote_agent):
    page, attrs = _page_and_attrs()
    attrs = dict(attrs, page_encoding="PLAIN")
    remote_agent.init(
        connection_config={
            "server_url": server.url,
            "credentials": {"client_id": "client1", "api_key": "key1"},
        },
        column_name="email",
        column_key_id="EMAIL_KEY_001",
        datatype=PhysicalType.BYTE_ARRAY,
        datatype_length=None,
        compression_type=CompressionCodec.UNCOMPRESSED,
        user_id="user123",
        application_context='{"user_id": "user123"}',
    )
    enc = remote_agent.encrypt(page, attrs)
    assert enc.success, enc.error_message
    assert enc.ciphertext != page
    assert enc.encryption_metadata["encrypt_mode_data_page"] == "per_value"

    remote_agent.column_encryption_metadata = enc.encryption_metadata
    dec = remote_agent.decrypt(enc.ciphertext, attrs)
    assert dec.success, dec.error_message
    assert dec.plaintext == page


def test_remote_agent_never_raises_on_bad_server():
    agent = RemoteProtectionAgent(timeout=2)
    with pytest.raises(ConnectionError):
        agent.init(
            connection_config={
                "server_url": "http://127.0.0.1:1",
                "credentials": {"client_id": "c", "api_key": "k"},
            },
            column_name="c",
            column_key_id="k",
            datatype=PhysicalType.INT32,
            datatype_length=None,
            compression_type=CompressionCodec.UNCOMPRESSED,
            user_id="u",
            application_context='{"user_id": "u"}',
        )
    # uninitialized use -> error result, not exception
    res = agent.encrypt(b"xx", {"page_encoding": "PLAIN"})
    assert not res.success
    assert "not initialized" in res.error_message


def test_remote_agent_token_cached(server, remote_agent):
    page, attrs = _page_and_attrs()
    attrs = dict(attrs, page_encoding="PLAIN")
    remote_agent.init(
        connection_config={
            "server_url": server.url,
            "credentials": {"client_id": "client1", "api_key": "key1"},
        },
        column_name="email",
        column_key_id="K",
        datatype=PhysicalType.BYTE_ARRAY,
        datatype_length=None,
        compression_type=CompressionCodec.UNCOMPRESSED,
        user_id="u",
        application_context='{"user_id": "u"}',
    )
    remote_agent.encrypt(page, attrs)
    tok1 = remote_agent._token
    remote_agent.encrypt(page, attrs)
    assert remote_agent._token is tok1  # cached, not re-fetched


# -- json_request_test parity edges (json_request_test.cpp:155-895) ------


def test_invalid_base64_value_treated_as_missing():
    body = _encrypt_request_body("!!!not-base64!!!", {})
    req = EncryptJsonRequest.parse(json.dumps(body))
    assert "data_batch.value" in req.get_validation_error()


@pytest.mark.parametrize("value", [12345678, True, {"b64": "QUJD"}])
def test_non_string_value_treated_as_missing(value):
    """Only a JSON string carries base64: ``str(12345678)`` would decode
    to 6 bytes of input."""
    body = _encrypt_request_body("QUJD", {})
    body["data_batch"]["value"] = value
    req = EncryptJsonRequest.parse(json.dumps(body))
    assert req.value == b""
    assert req.get_validation_error() == (
        "Missing required field: data_batch.value"
    )
    body["data_batch_encrypted"]["value"] = value
    req = DecryptJsonRequest.parse(json.dumps(body))
    assert req.encrypted_value == b""
    assert req.get_validation_error() == (
        "Missing required field: data_batch_encrypted.value"
    )


def test_http_non_string_value_is_400(server):
    _, tok = _post(server.url + "/token", {"client_id": "client1", "api_key": "key1"})
    body = _encrypt_request_body(12345678, {"page_type": "DATA_PAGE_V1"})
    status, doc = _post(server.url + "/encrypt", body, tok["token"])
    assert status == 400
    assert "Missing required field: data_batch.value" in doc["error_string"]


def test_invalid_datatype_length_string():
    body = _encrypt_request_body("QUJD", {})
    body["data_batch"]["datatype_info"]["length"] = "not-an-int"
    req = EncryptJsonRequest.parse(json.dumps(body))
    assert "invalid integer value" in req.get_validation_error()


def test_valid_datatype_length_parses():
    body = _encrypt_request_body("QUJD", {})
    body["data_batch"]["datatype_info"]["length"] = 8
    req = EncryptJsonRequest.parse(json.dumps(body))
    assert req.datatype_length == 8 and req.is_valid()


def test_unknown_datatype_reported_missing():
    body = _encrypt_request_body("QUJD", {})
    body["data_batch"]["datatype_info"]["datatype"] = "UNDEFINED_TYPE"
    req = EncryptJsonRequest.parse(json.dumps(body))
    assert "data_batch.datatype_info.datatype" in req.get_validation_error()


def test_application_context_object_is_json_string():
    body = _encrypt_request_body("QUJD", {})
    body["application_context"] = {"column_schema": {"table": "users"}}
    req = EncryptJsonRequest.parse(json.dumps(body))
    assert json.loads(req.application_context)["column_schema"]["table"] == "users"


def test_statusz_requires_and_accepts_token(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(server.url + "/statusz", timeout=10)
    assert ei.value.code == 401
    _, tok = _post(server.url + "/token", {"client_id": "client1", "api_key": "key1"})
    req = urllib.request.Request(
        server.url + "/statusz",
        headers={"Authorization": f"Bearer {tok['token']}"},
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        assert resp.status == 200
        assert json.loads(resp.read())["enable_credential_check"] is True


def test_decrypt_wrong_version_over_http(server):
    import base64

    page, attrs = _page_and_attrs()
    _, tok = _post(server.url + "/token", {"client_id": "client1", "api_key": "key1"})
    body = _encrypt_request_body(base64.b64encode(page).decode(), attrs)
    _, enc = _post(server.url + "/encrypt", body, tok["token"])
    dec_body = _encrypt_request_body("", attrs)
    del dec_body["data_batch"]["value"]
    dec_body["data_batch_encrypted"]["value"] = enc["data_batch_encrypted"]["value"]
    dec_body["encryption_metadata"] = dict(
        enc["encryption_metadata"], dbps_agent_version="v9.99"
    )
    status, doc = _post(server.url + "/decrypt", dec_body, tok["token"])
    assert status == 400
    assert "dbps_agent_version" in doc["error_string"]


# -- dbpa_remote_testapp parity: float + fixed-len over HTTP -------------


def _remote_agent_for(server, datatype, length=None):
    agent = RemoteProtectionAgent()
    agent.init(
        connection_config={
            "server_url": server.url,
            "credentials": {"client_id": "client1", "api_key": "key1"},
        },
        column_name="col",
        column_key_id="K1",
        datatype=datatype,
        datatype_length=length,
        compression_type=CompressionCodec.UNCOMPRESSED,
        user_id="u1",
        application_context='{"user_id": "u1"}',
    )
    return agent


def test_remote_agent_float_integrity(server):
    """Float batch round-trips bit-exactly (dbpa_remote_testapp.cpp:424-581)."""
    from tests.pagebuilders import build_v1_page

    values = [0.0, -0.0, 1.5, -2.25, 3.4e38, 1.4e-45, float("inf")]
    page, attrs = build_v1_page(
        values, PhysicalType.FLOAT, CompressionCodec.UNCOMPRESSED
    )
    agent = _remote_agent_for(server, PhysicalType.FLOAT)
    attrs = dict(attrs, page_encoding="PLAIN")
    enc = agent.encrypt(page, attrs)
    assert enc.success, enc.error_message
    agent.column_encryption_metadata = enc.encryption_metadata
    dec = agent.decrypt(enc.ciphertext, attrs)
    assert dec.success and dec.plaintext == page


def test_remote_agent_fixed_len(server):
    """FIXED_LEN_BYTE_ARRAY(8) round-trip (dbpa_remote_testapp.cpp:601-)."""
    from tests.pagebuilders import build_v1_page

    values = [b"12345678", b"abcdefgh", b"\x00" * 8, b"\xff" * 8]
    page, attrs = build_v1_page(
        values,
        PhysicalType.FIXED_LEN_BYTE_ARRAY,
        CompressionCodec.UNCOMPRESSED,
        length=8,
    )
    agent = _remote_agent_for(server, PhysicalType.FIXED_LEN_BYTE_ARRAY, length=8)
    attrs = dict(attrs, page_encoding="PLAIN")
    enc = agent.encrypt(page, attrs)
    assert enc.success, enc.error_message
    agent.column_encryption_metadata = enc.encryption_metadata
    dec = agent.decrypt(enc.ciphertext, attrs)
    assert dec.success and dec.plaintext == page


def test_remote_agent_empty_payload_rejected(server):
    """Empty payloads error cleanly (dbpa_remote_testapp.cpp:772-816)."""
    agent = _remote_agent_for(server, PhysicalType.BYTE_ARRAY)
    res = agent.encrypt(b"", {"page_encoding": "PLAIN"})
    assert not res.success


# -- the value envelope ---------------------------------------------------


@pytest.mark.parametrize("path", [("data_batch", "value"), ("value",)], ids=["nested", "top"])
@pytest.mark.parametrize(
    "value", [b"", b"\x00\xff" * 100, bytes(range(256))], ids=["empty", "pairs", "all_bytes"]
)
def test_spliced_envelope_is_the_dumped_document(path, value):
    import base64

    from databatchprotectionservice_spark.service.json_model import dumps_with_value

    doc = {
        'a"quote': "nul\x00 and \\ and \"",
        "data_batch": {"k\x01": "碧 é", "value_format": {"x": [1, "\x7f"]}},
        "z": {"value": "not this one"},
    }
    body = dumps_with_value(doc, path, value)
    full = json.loads(json.dumps(doc))
    node = full
    for key in path[:-1]:
        node = node[key]
    node[path[-1]] = base64.b64encode(value).decode()
    assert isinstance(body, bytes) and json.loads(body) == full
    assert json.loads(json.dumps(doc)) != full  # doc itself is left as it was


def test_response_builders_return_the_envelope_bytes():
    from databatchprotectionservice_spark.service import (
        build_decrypt_response,
        build_encrypt_response,
    )

    body = _encrypt_request_body("QUJD", {"page_type": 'DATA_PAGE"\x00'})
    body["debug"]["reference_id"] = "réf\x00"
    enc = build_encrypt_response(
        EncryptJsonRequest.parse(json.dumps(body)), b"\x00ct", {"m": 'é"'}
    )
    assert json.loads(enc) == {
        "data_batch_encrypted": {
            "value_format": {"compression": "UNCOMPRESSED"},
            "value": "AGN0",
        },
        "access": {"user_id": "user123", "role": "granted", "access_control": "granted"},
        "encryption_metadata": {"m": 'é"'},
        "debug": {"reference_id": "réf\x00"},
    }
    body["data_batch_encrypted"]["value"] = "AGN0"
    dec = build_decrypt_response(DecryptJsonRequest.parse(json.dumps(body)), b"ABC")
    assert json.loads(dec)["data_batch"] == {
        "datatype_info": {"datatype": "BYTE_ARRAY"},
        "value_format": {"compression": "UNCOMPRESSED", "encoding": "PLAIN"},
        "value": "QUJD",
    }


def test_excess_base64_padding_is_refused():
    """Only canonical base64 is a value; Python's lenient decoders take
    padding past a complete group."""
    req = EncryptJsonRequest.parse(json.dumps(_encrypt_request_body("QUJD=", {})))
    assert "data_batch.value" in req.get_validation_error()


# -- keep-alive and hostile framing -----------------------------------------


def _raw_exchange(server, request: bytes) -> tuple[bytes, bytes]:
    """Send raw bytes, read until the server closes the connection (a
    server that keeps it open fails the read with a timeout), return
    (status line and headers, body)."""
    import socket

    host, port = server.url.rsplit("/", 1)[1].split(":")
    with socket.create_connection((host, int(port)), timeout=10) as sock:
        sock.sendall(request)
        data = b""
        while chunk := sock.recv(65536):
            data += chunk
    head, _, body = data.partition(b"\r\n\r\n")
    return head, body


@pytest.mark.parametrize(
    "length", ["-5", "abc", str((256 << 20) + 1)], ids=["negative", "non_numeric", "over_cap"]
)
def test_hostile_content_length_gets_400_and_closes(server, length):
    head, body = _raw_exchange(
        server,
        f"POST /token HTTP/1.1\r\nHost: x\r\nContent-Length: {length}\r\n\r\n{{}}".encode(),
    )
    assert head.startswith(b"HTTP/1.1 400 ")
    assert b"\r\nConnection: close" in head
    assert "invalid Content-Length" in json.loads(body)["error_string"]


def test_non_utf8_body_gets_400(server):
    raw = b'{"client_id": "\xff\xfe"}'
    head, body = _raw_exchange(
        server,
        b"POST /token HTTP/1.1\r\nHost: x\r\nConnection: close\r\n"
        + f"Content-Length: {len(raw)}\r\n\r\n".encode()
        + raw,
    )
    assert head.startswith(b"HTTP/1.1 400 ")
    assert "utf-8" in json.loads(body)["error_string"]


def test_http10_request_gets_one_reply_and_a_close(server):
    head, body = _raw_exchange(server, b"GET /healthz HTTP/1.0\r\n\r\n")
    assert head.startswith(b"HTTP/1.1 200 ") and body == b"OK"


def test_two_requests_share_one_http11_connection(server):
    import http.client

    conn = http.client.HTTPConnection(server.url.split("//")[1], timeout=10)
    try:
        conn.request("GET", "/healthz")
        resp = conn.getresponse()
        assert (resp.version, resp.status, resp.read()) == (11, 200, b"OK")
        sock = conn.sock
        conn.request(
            "POST",
            "/token",
            json.dumps({"client_id": "client1", "api_key": "key1"}).encode(),
            {"Content-Type": "application/json"},
        )
        resp = conn.getresponse()
        assert resp.status == 200 and "token" in json.loads(resp.read())
        assert conn.sock is sock  # no reconnect in between
    finally:
        conn.close()


@pytest.fixture()
def count_connects(monkeypatch):
    import http.client

    opened = []
    orig = http.client.HTTPConnection.connect

    def connect(self):
        opened.append(self)
        return orig(self)

    monkeypatch.setattr(http.client.HTTPConnection, "connect", connect)
    return opened


def _own_server_agent(store):
    srv = ProtectionApiServer(store).start()
    agent = _remote_agent_for(srv, PhysicalType.BYTE_ARRAY)
    page, attrs = _page_and_attrs()
    attrs = dict(attrs, page_encoding="PLAIN")
    assert agent.encrypt(page, attrs).success
    return srv, agent, page, attrs


def test_stale_connection_reconnects_once(store, monkeypatch, count_connects):
    from databatchprotectionservice_spark.service import server as server_mod

    # the reference pool's idle timeout, a constant rather than an option
    assert server_mod._Handler.timeout == server_mod.IDLE_TIMEOUT_S == 60
    monkeypatch.setattr(server_mod._Handler, "timeout", 0.2)
    srv, agent, page, attrs = _own_server_agent(store)
    try:
        assert len(count_connects) == 1  # health check, token and encrypt
        time.sleep(1.0)  # the server closes the idle connection
        enc = agent.encrypt(page, attrs)
        assert enc.success, enc.error_message
        assert len(count_connects) == 2
    finally:
        srv.stop()


def test_server_down_gives_an_error_result_without_retry(store, count_connects):
    srv, agent, page, attrs = _own_server_agent(store)
    srv.stop()  # also closes the agent's open connection
    opened = len(count_connects)
    # the reused connection is found closed: one reconnect, refused
    res = agent.encrypt(page, attrs)
    assert not res.success and len(count_connects) == opened + 1
    # a fresh connection that fails is not retried
    res = agent.encrypt(page, attrs)
    assert not res.success and len(count_connects) == opened + 2


def test_peer_resets_print_no_traceback(store, monkeypatch, capfd):
    """The stale-connection and server-down scenarios above: the server
    sees its keep-alive peers reset, and prints nothing about it."""
    from databatchprotectionservice_spark.service import server as server_mod

    before = set(threading.enumerate())
    with monkeypatch.context() as m:
        m.setattr(server_mod._Handler, "timeout", 0.2)
        srv, agent, page, attrs = _own_server_agent(store)
        time.sleep(1.0)  # the server closes the idle connection
        assert agent.encrypt(page, attrs).success
        srv.stop()
    # a reset after stop() is likely but not certain in any one round
    for _ in range(3):
        srv, agent, page, attrs = _own_server_agent(store)
        srv.stop()  # also closes the agent's open connection
        assert not agent.encrypt(page, attrs).success
    for t in set(threading.enumerate()) - before:
        t.join(timeout=5)
    assert "Exception occurred during processing" not in capfd.readouterr().err


def test_server_reports_errors_other_than_peer_resets(capfd):
    from http.server import BaseHTTPRequestHandler

    from databatchprotectionservice_spark.service.server import _Server

    srv = _Server(("127.0.0.1", 0), BaseHTTPRequestHandler)
    try:
        for exc in (ConnectionResetError(), BrokenPipeError(), ValueError("boom")):
            try:
                raise exc
            except Exception:
                srv.handle_error(None, ("127.0.0.1", 1))
    finally:
        srv.server_close()
    err = capfd.readouterr().err
    assert err.count("Exception occurred during processing") == 1
    assert "ValueError: boom" in err


def test_malformed_base64_response_is_an_error_result(server):
    """The agent decodes response values strictly, and reports a bad one
    instead of raising or decoding it leniently."""
    agent = _remote_agent_for(server, PhysicalType.BYTE_ARRAY)
    agent.column_encryption_metadata = {}
    agent._ensure_token()
    page, attrs = _page_and_attrs()
    attrs = dict(attrs, page_encoding="PLAIN")
    for value in ("QUJD=", "QU JD", "QUJ"):
        enc_doc = {"access": {"user_id": "u1"}, "data_batch_encrypted": {"value": value}}
        agent._request = lambda *a, doc=enc_doc: (200, json.dumps(doc).encode())
        res = agent.encrypt(page, attrs)
        assert not res.success and "not valid base64" in res.error_message
        dec_doc = {"data_batch": {"datatype_info": {"datatype": "BYTE_ARRAY"}, "value": value}}
        agent._request = lambda *a, doc=dec_doc: (200, json.dumps(doc).encode())
        res = agent.decrypt(b"ct", attrs)
        assert not res.success and "not valid base64" in res.error_message
