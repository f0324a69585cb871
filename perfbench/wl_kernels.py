"""``column_kernels``: the protect kernels with no Spark and no IPC.

One op is one 65,536-row Arrow batch (the session's
``maxRecordsPerBatch``) of the generated table. A protect op runs
``functions.protect.make_protect_kernel`` on every column under both
ciphers; an unprotect op runs ``make_unprotect_kernel`` on the results.
Every op does the same work. This is where kernel and cipher changes
must show, and what the other two workloads should not follow."""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

import datagen
import harness

ROWS = 65_536
BATCHES = 4
CIPHERS = ("keystream_xor", "aes_siv")
TYPE_LABELS = {"id": "int64", "amount": "decimal", "score": "double", "day": "date", "email": "string"}
#: plaintext cells compared against their ciphertext per column and op
CHECK_CELLS = 32
SETUP_REPS = 5
#: batch indices disjoint from the dataset workload's
BATCH_BASE = 1000


def spark_types() -> dict:
    from pyspark.sql import types as T

    return {
        "id": T.LongType(),
        "amount": T.DecimalType(12, 2),
        "score": T.DoubleType(),
        "day": T.DateType(),
        "email": T.StringType(),
    }


def build_kernels(ciphers: tuple[str, ...] = CIPHERS) -> dict:
    """(protect, unprotect) kernels keyed by (cipher, column)."""
    from databatchprotectionservice_spark.functions.protect import (
        make_protect_kernel,
        make_unprotect_kernel,
    )

    return {
        (cipher, name): (
            make_protect_kernel(st, f"perfbench_{name}", cipher),
            make_unprotect_kernel(st, f"perfbench_{name}", cipher),
        )
        for cipher in ciphers
        for name, st in spark_types().items()
    }


def cell_plaintext(arr: pa.Array, i: int) -> bytes:
    """The bytes a protect kernel encrypts for non-null cell ``i``."""
    one = arr.take(pa.array([i]))
    if pa.types.is_string(one.type):
        return one[0].as_py().encode()
    return one.buffers()[1].to_pybytes()[: one.type.bit_width // 8]


def check_ciphertext(plain: pa.Array, ct: pa.Array, cipher: str) -> None:
    """Raise unless ``ct`` keeps ``plain``'s nulls and its sampled cells
    are not the plaintext (tag byte first, 16 more bytes under AES-SIV)."""
    if len(ct) != len(plain) or ct.null_count != plain.null_count:
        raise harness.OpFailed("ciphertext length or null count differs")
    overhead = 17 if cipher == "aes_siv" else 1
    checked = 0
    for i in range(len(plain)):
        if checked == CHECK_CELLS:
            break
        if not plain[i].is_valid:
            continue
        pt, cell = cell_plaintext(plain, i), ct[i].as_py()
        if len(cell) != len(pt) + overhead or cell[overhead:] == pt:
            raise harness.OpFailed(f"cell {i} is not ciphertext of its plaintext")
        checked += 1


class KernelTracer:
    """Times each kernel call, and inside it every ``encrypt_elements`` /
    ``decrypt_elements`` call, by wrapping the kernels and handing them
    wrapped encryptors. Kernel time minus cipher time is the kernels'
    self time."""

    def __init__(self):
        self.cipher_s = {c: 0.0 for c in CIPHERS}
        self.kernel_s: dict = {}
        self.kernel_bytes: dict = {}

    def install(self):
        """Route the kernels' encryptors through timing proxies (the
        kernels look ``make_encryptor`` up on every call); returns the
        undo."""
        from databatchprotectionservice_spark.functions import protect as mod

        original = mod.make_encryptor
        mod.make_encryptor = lambda name, key_id: _TimedEncryptor(
            original(name, key_id), name, self
        )
        return lambda: setattr(mod, "make_encryptor", original)

    def wrap_all(self, kernels: dict) -> dict:
        """``build_kernels``' kernels, each timed."""
        return {
            key: (self.wrap("protect", key, prot), self.wrap("unprotect", key, unprot))
            for key, (prot, unprot) in kernels.items()
        }

    def wrap(self, kind: str, key: tuple, kernel):
        def timed_kernel(arr):
            t0 = time.perf_counter()
            out = kernel(arr)
            dt = time.perf_counter() - t0
            plain = arr if kind == "protect" else out
            self.kernel_s[kind, key] = self.kernel_s.get((kind, key), 0.0) + dt
            self.kernel_bytes[kind, key] = (
                self.kernel_bytes.get((kind, key), 0) + datagen.plaintext_bytes(plain)
            )
            return out

        return timed_kernel

    def layers(self, ops: int) -> dict:
        out = {
            f"functions.protect.{kind}_mb_s.{TYPE_LABELS[name]}.{cipher}":
                self.kernel_bytes[kind, (cipher, name)] / harness.MB / secs
            for (kind, (cipher, name)), secs in self.kernel_s.items()
        }
        cipher_total = sum(self.cipher_s.values())
        out["core.keystream.elements_ms"] = 1e3 * self.cipher_s["keystream_xor"] / ops
        out["core.aessiv_batch.elements_ms"] = 1e3 * self.cipher_s["aes_siv"] / ops
        out["functions.protect.self_ms"] = (
            1e3 * (sum(self.kernel_s.values()) - cipher_total) / ops
        )
        return out


class _TimedEncryptor:
    def __init__(self, inner, name, tracer):
        self._inner, self._name, self._tracer = inner, name, tracer

    def __getattr__(self, attr):
        return getattr(self._inner, attr)

    def _timed(self, fn, *a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            self._tracer.cipher_s[self._name] += time.perf_counter() - t0

    def encrypt_elements(self, *a, **kw):
        return self._timed(self._inner.encrypt_elements, *a, **kw)

    def decrypt_elements(self, *a, **kw):
        return self._timed(self._inner.decrypt_elements, *a, **kw)


def run(seed: int, seconds: float, trace: bool, ctx) -> dict:
    cpus = harness.available_cpus()
    harness.pin(cpus[-1:])  # one thread, one CPU
    batches = []
    for k in range(BATCHES):
        table = datagen.make_table(seed, BATCH_BASE + k, ROWS)
        batches.append({n: table.column(n).combine_chunks() for n in datagen.COLUMNS})
    batch_bytes = [
        len(CIPHERS) * sum(datagen.plaintext_bytes(a) for a in b.values()) for b in batches
    ]

    # set-up: kernel construction plus one first call of each, repeated
    setup_host = harness.HostSpeed(cpus[-1:])
    setup_times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        kernels = build_kernels()
        for (cipher, name), (prot, unprot) in kernels.items():
            unprot(prot(batches[0][name]))
        setup_times.append(time.perf_counter() - t0)
        setup_host.run_rounds(harness.SETUP_ROUNDS)

    ct: dict = {}
    pt: dict = {}

    def protect(pair):
        k = pair % BATCHES
        for (cipher, name), (prot, _) in kernels.items():
            ct[cipher, name] = prot(batches[k][name])
        return batch_bytes[k]

    def unprotect(pair):
        for key, (_, unprot) in kernels.items():
            pt[key] = unprot(ct[key])
        return batch_bytes[pair % BATCHES]

    def verify_protect(pair):
        k = pair % BATCHES
        for cipher, name in kernels:
            check_ciphertext(batches[k][name], ct[cipher, name], cipher)

    def verify_unprotect(pair):
        k = pair % BATCHES
        for cipher, name in kernels:
            plain = batches[k][name]
            if not pt[cipher, name].cast(plain.type).equals(plain):
                raise harness.OpFailed(f"{cipher}/{name} round trip differs")

    loop = harness.ClosedLoop(protect, unprotect, verify_protect, verify_unprotect)
    warm_pairs = loop.warm_up(min_pairs=3, max_pairs=40, max_seconds=15, host=setup_host)

    tracer = KernelTracer() if trace else None
    restore = None
    if trace:
        restore = tracer.install()
        kernels = tracer.wrap_all(kernels)
    host = harness.HostSpeed(cpus[-1:])
    sampler = harness.RssSampler(cpus=cpus[:-1]).start()
    try:
        timed = loop.timed(seconds, host)
    finally:
        peak = sampler.stop()
        if restore is not None:
            restore()

    n_ops = len(timed["latency"]["protect"]) + len(timed["latency"]["unprotect"])
    e2e, lat, measured = harness.e2e_metrics(
        statistics.median(setup_times), timed, peak, setup_host, host
    )
    return {
        "e2e": e2e,
        "layers": tracer.layers(n_ops) if trace else {},
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
            "cpus": cpus[-1:],
        },
    }
