"""``page_service``: row groups through the HTTP protection service.

The server runs as its own process through ``scripts/run_server.py``
with a credentials file, so every data-plane request carries a JWT. The
load generator is one thread driving ``service.client.
RemoteProtectionAgent`` with one request outstanding; load generator and
server are pinned to the same single CPU. One op is one row group of six
10k-slot pages (``datagen.PAGE_SPECS``), so every op does the same work:
a protect op encrypts all six, an unprotect op decrypts them again.
HTTP, JSON/base64 and ``core.pagecodec`` dominate; Spark is absent."""

from __future__ import annotations

import http.client
import json
import os
import socket
import statistics
import subprocess
import sys
import time
import urllib.request

import datagen
import harness

SETUP_REPS = 5
CLIENT_ID, API_KEY, JWT_SECRET = "perfbench", "perfbench-api-key", "perfbench-jwt-secret"
USER = "perfbench"
#: row groups cycled through, so consecutive ops carry different pages
ROW_GROUPS = 2


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """The service process, started through the repository's entry point."""

    def __init__(self, root: str, creds: str, cpus: list[int]):
        self.port = _free_port()
        self.url = f"http://127.0.0.1:{self.port}"
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(root, "scripts", "run_server.py"),
                "--port", str(self.port),
                "--credentials-file", creds,
                "--jwt-secret", JWT_SECRET,
            ],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            preexec_fn=lambda: os.sched_setaffinity(0, cpus),
        )

    def wait_healthy(self, timeout_s: float = 60.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}")
            try:
                with urllib.request.urlopen(self.url + "/healthz", timeout=2) as r:
                    if r.status == 200:
                        return
            except OSError:
                time.sleep(0.02)
        raise RuntimeError("server never became healthy")

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)


def _agents(url: str, pages: list[dict]) -> list:
    """One initialised agent per page, each with its token fetched by a
    first encrypt; the agent keeps that encrypt's metadata for decrypt."""
    from databatchprotectionservice_spark.service.client import RemoteProtectionAgent

    agents = []
    for k, page in enumerate(pages):
        agent = RemoteProtectionAgent()
        agent.init(
            connection_config={
                "server_url": url,
                "credentials": {"client_id": CLIENT_ID, "api_key": API_KEY},
            },
            column_name=page["name"],
            column_key_id=f"perfbench_page_key_{k}",
            datatype=page["datatype"],
            datatype_length=page["length"],
            compression_type=page["codec"],
            user_id=USER,
            application_context=json.dumps({"user_id": USER}),
        )
        first = agent.encrypt(page["payload"], page["attrs"])
        if not first.success:
            raise RuntimeError(f"first encrypt of {page['name']} failed: {first.error_message}")
        agent.column_encryption_metadata = first.encryption_metadata
        agents.append(agent)
    return agents


class HttpTracer:
    """Counts connections, requests and body bytes at the stdlib HTTP
    client boundary, and keeps the last op's bodies for replay."""

    def __init__(self):
        self.connections = 0
        self.requests = 0
        self.token_requests = 0
        self.body_bytes = 0
        self.bodies: list[tuple[str, bytes, dict]] = []
        self._response: list[bytes] = []

    def install(self):
        conn, resp = http.client.HTTPConnection, http.client.HTTPResponse
        orig_connect, orig_request, orig_read = conn.connect, conn.request, resp.read
        tracer = self

        def connect(self_):
            tracer.connections += 1
            return orig_connect(self_)

        def request(self_, method, url, body=None, headers={}, **kw):  # noqa: B006 - stdlib signature
            tracer.requests += 1
            tracer.token_requests += url.endswith("/token")
            tracer.body_bytes += len(body or b"")
            tracer.bodies.append((url, body or b"", dict(headers)))
            return orig_request(self_, method, url, body, headers, **kw)

        def read(self_, amt=None):
            data = orig_read(self_, amt)
            tracer.body_bytes += len(data)
            tracer._response.append(data)
            return data

        conn.connect, conn.request, resp.read = connect, request, read

        def restore():
            conn.connect, conn.request, resp.read = orig_connect, orig_request, orig_read

        return restore

    def take_op(self) -> list[tuple[str, bytes, dict, bytes]]:
        """The (url, request body, headers, response body) of the requests
        since the last call."""
        out = [
            (u, b, h, r) for (u, b, h), r in zip(self.bodies, self._response)
        ]
        self.bodies, self._response = [], []
        return out


def _replay(exchanges, store) -> tuple[float, float]:
    """Server-side JSON and auth work on captured bodies: json_model parse
    and response build, and bearer verification. Returns seconds."""
    from databatchprotectionservice_spark.service import json_model as jm

    json_s = auth_s = 0.0
    for url, body, headers, response in exchanges:
        doc = json.loads(response)
        t0 = time.perf_counter()
        if url.endswith("/encrypt"):
            req = jm.EncryptJsonRequest.parse(body.decode())
            jm.build_encrypt_response(
                req,
                jm.decode_base64_safe(doc["data_batch_encrypted"]["value"]),
                doc["encryption_metadata"],
            )
        else:
            req = jm.DecryptJsonRequest.parse(body.decode())
            jm.build_decrypt_response(req, jm.decode_base64_safe(doc["data_batch"]["value"]))
        t1 = time.perf_counter()
        err = store.verify_token_for_endpoint(headers["Authorization"])
        t2 = time.perf_counter()
        if err is not None or not req.is_valid():
            raise RuntimeError(f"replayed request did not validate: {err}")
        json_s += t1 - t0
        auth_s += t2 - t1
    return json_s, auth_s


def _codec_times(pages: list[dict]) -> dict:
    """``PageProtector`` and compression on the same pages, in process."""
    from databatchprotectionservice_spark.core import compression as comp
    from databatchprotectionservice_spark.core.pagecodec import (
        PageAttributes,
        PageProtector,
        decompress_and_split,
    )

    enc_s = dec_s = comp_s = 0.0
    per_block = 0
    for k, page in enumerate(pages):
        attrs = PageAttributes.from_string_map(page["attrs"])
        protector = PageProtector(
            column_name=page["name"],
            key_id=f"perfbench_page_key_{k}",
            datatype=page["datatype"],
            datatype_length=page["length"],
            compression=page["codec"],
            encoding=page["encoding"],
        )
        t0 = time.perf_counter()
        ct, meta = protector.encrypt(page["payload"], attrs)
        t1 = time.perf_counter()
        if protector.decrypt(ct, attrs, meta) != page["payload"]:
            raise RuntimeError(f"in-process round trip of {page['name']} differs")
        t2 = time.perf_counter()
        enc_s += t1 - t0
        dec_s += t2 - t1
        per_block += "per_block" in meta.values()
        # the compression work of one encrypt: decompress the page's
        # compressed region, compress it again
        split = decompress_and_split(page["payload"], page["codec"], attrs)
        if page["attrs"]["page_type"] == "DATA_PAGE_V2":  # levels sit outside
            region, raw = page["payload"][len(split.level_bytes):], split.value_bytes
        else:
            region, raw = page["payload"], split.level_bytes + split.value_bytes
        t3 = time.perf_counter()
        comp.decompress(region, page["codec"])
        comp.compress(raw, page["codec"])
        comp_s += time.perf_counter() - t3
    return {"encrypt_s": enc_s, "decrypt_s": dec_s, "compression_s": comp_s, "per_block": per_block}


def _service_layers(timed: dict, tracer: HttpTracer, captured: dict, groups: list) -> dict:
    """Per-op layer numbers of the traced timed phase. The JSON, auth and
    codec work is replayed in this process on the same bodies and pages
    (five times, median or mean per op), after the clock stopped."""
    from databatchprotectionservice_spark.service.auth import ClientCredentialStore

    store = ClientCredentialStore(JWT_SECRET, credentials={CLIENT_ID: API_KEY})
    reps = 5
    json_s = auth_s = 0.0
    for _ in range(reps):
        for kind in ("protect", "unprotect"):
            j, a = _replay(captured[kind], store)
            json_s += j
            auth_s += a
    json_ms = 1e3 * json_s / (2 * reps)
    auth_ms = 1e3 * auth_s / (2 * reps)
    codec = [_codec_times(groups[g % ROW_GROUPS]) for g in range(reps)]
    enc_ms = 1e3 * statistics.median(c["encrypt_s"] for c in codec)
    dec_ms = 1e3 * statistics.median(c["decrypt_s"] for c in codec)
    latencies = timed["latency"]["protect"] + timed["latency"]["unprotect"]
    op_ms = 1e3 * sum(latencies) / len(latencies)
    return {
        "service.requests": tracer.requests / len(latencies),
        "service.connections_opened": tracer.connections / max(tracer.requests, 1),
        "service.token_requests": tracer.token_requests,
        "service.body_bytes_ratio": tracer.body_bytes / timed["bytes"],
        "service.json_ms": json_ms,
        "service.auth_ms": auth_ms,
        "service.transport_ms": op_ms - json_ms - auth_ms - (enc_ms + dec_ms) / 2,
        "core.pagecodec.encrypt_ms": enc_ms,
        "core.pagecodec.decrypt_ms": dec_ms,
        "core.pagecodec.per_block_pages": codec[0]["per_block"],
        "core.compression.ms": 1e3 * statistics.median(c["compression_s"] for c in codec),
    }


def run(seed: int, seconds: float, trace: bool, ctx) -> dict:
    cpus = harness.available_cpus()
    # load generator and server share one CPU: the closed loop never runs
    # them at once, a local wake-up costs less than a cross-CPU one, and
    # idle vCPUs lose no time to the hypervisor (disjoint CPUs measured
    # 15-25% slower, with two to ten times the steal and wider tails)
    cpu = cpus[:1]
    harness.pin(cpu)
    groups = [datagen.make_pages(seed, g) for g in range(ROW_GROUPS)]
    group_bytes = [sum(len(p["payload"]) for p in pages) for pages in groups]
    creds = os.path.join(ctx["work"], "credentials.json")
    with open(creds, "w") as f:
        json.dump({CLIENT_ID: API_KEY}, f)
    ciphertexts: list = [None] * len(groups[0])
    metadata: list = [None] * len(groups[0])
    plaintexts: list = [None] * len(groups[0])

    def protect(pair):
        pages = groups[pair % ROW_GROUPS]
        for k, (agent, page) in enumerate(zip(agents, pages)):
            res = agent.encrypt(page["payload"], page["attrs"])
            if not res.success:
                raise harness.OpFailed(f"encrypt {page['name']}: {res.error_message}")
            ciphertexts[k], metadata[k] = res.ciphertext, res.encryption_metadata
        return group_bytes[pair % ROW_GROUPS]

    def unprotect(pair):
        pages = groups[pair % ROW_GROUPS]
        for k, (agent, page) in enumerate(zip(agents, pages)):
            res = agent.decrypt(ciphertexts[k], page["attrs"])
            if not res.success:
                raise harness.OpFailed(f"decrypt {page['name']}: {res.error_message}")
            plaintexts[k] = res.plaintext
        return group_bytes[pair % ROW_GROUPS]

    def verify_protect(pair):
        for k, page in enumerate(groups[pair % ROW_GROUPS]):
            if ciphertexts[k] == page["payload"]:
                raise harness.OpFailed(f"{page['name']}: ciphertext equals plaintext")
            modes = {v for key, v in metadata[k].items() if key.startswith("encrypt_mode")}
            if modes != {page["mode"]}:
                raise harness.OpFailed(f"{page['name']}: mode {modes}, expected {page['mode']}")
            if metadata[k] != agents[k].column_encryption_metadata:
                raise harness.OpFailed(f"{page['name']}: metadata changed")

    def verify_unprotect(pair):
        for k, page in enumerate(groups[pair % ROW_GROUPS]):
            if plaintexts[k] != page["payload"]:
                raise harness.OpFailed(f"{page['name']}: round trip differs")

    tracer = HttpTracer() if trace else None
    captured: dict = {}

    def on_op(kind, pair, t0, t1):
        if tracer is not None:
            captured[kind] = tracer.take_op()

    # set-up, SETUP_REPS cold starts: server start, /healthz, agent init and
    # the /token fetch; the last server stays up for the timed phase
    setup_host = harness.HostSpeed(cpu)
    setup_times = []
    server = None
    try:
        for rep in range(SETUP_REPS):
            if server is not None:
                server.stop()
            t0 = time.perf_counter()
            server = Server(ctx["root"], creds, cpu)
            server.wait_healthy()
            agents = _agents(server.url, groups[0])
            setup_times.append(time.perf_counter() - t0)
            setup_host.run_rounds(harness.SETUP_ROUNDS)
        loop = harness.ClosedLoop(protect, unprotect, verify_protect, verify_unprotect)
        warm_pairs = loop.warm_up(min_pairs=5, max_pairs=100, max_seconds=10, host=setup_host)
        restore = tracer.install() if trace else None
        host = harness.HostSpeed(cpu)
        sampler = harness.RssSampler(cpus=cpus[1:]).start()
        try:
            timed = loop.timed(seconds, host, on_op)
        finally:
            peak = sampler.stop()
            if restore is not None:
                restore()
    finally:
        if server is not None:
            server.stop()

    e2e, lat, measured = harness.e2e_metrics(
        statistics.median(setup_times), timed, peak, setup_host, host
    )
    return {
        "e2e": e2e,
        "layers": _service_layers(timed, tracer, captured, groups) if trace else {},
        "loop": loop,
        "details": {
            "latency": lat,
            "measured": measured,
            "host_speed": host.record(),
            "setup_host_speed": setup_host.record(),
            "setup_reps_s": setup_times,
            "warm_up_pairs": warm_pairs,
            "rss_samples": sampler.samples,
            "rss_peak_processes": sampler.peak_procs,
            "cpus": cpu,
        },
    }
