"""Workload-independent parts of the benchmark: latency statistics, the
closed loop with its warm-up-until-steady rule, process-tree RSS
sampling, CPU pinning, host-speed calibration and the host-noise record
kept next to each run."""

from __future__ import annotations

import hashlib
import math
import os
import select
import signal
import statistics
import subprocess
import sys
import time
import zlib

import numpy as np

MB = 1e6
#: warm-up ends when the last three pair times agree within this share
#: of their median
WARM_UP_TOL = 0.15
#: seconds between two samples of the process tree's RSS
RSS_INTERVAL_S = 0.2


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> float:
    """The highest percentile with at least ten samples beyond it, never
    below the median: with fewer than twenty samples no percentile above
    the median has ten samples past it, so the tail falls back to p50."""
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(50.0, 100.0 * (1.0 - 10.0 / n))


def latency_summary(seconds: list[float]) -> dict:
    """p50 and tail of op latencies, in ms, with the sample count and the
    samples in the order they were taken."""
    ms = [s * 1e3 for s in seconds]
    tp = tail_pct(len(ms))
    return {
        "n": len(ms),
        "p50_ms": percentile(ms, 50.0),
        "tail_pct": tp,
        "tail_ms": percentile(ms, tp),
        "samples_ms": ms,
    }


class OpFailed(Exception):
    """An op ran but its output did not verify."""


class ClosedLoop:
    """One issuing thread; the next op starts when the previous one ends.

    Ops alternate protect / unprotect. Each op callable takes the pair
    index and returns the plaintext bytes it processed; verification
    runs in a separate callable after the op's clock stops, so checking
    costs no measured time."""

    def __init__(self, protect, unprotect, verify_protect, verify_unprotect):
        self._ops = (
            ("protect", protect, verify_protect),
            ("unprotect", unprotect, verify_unprotect),
        )
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.pair = 0

    def _run_one(self, kind_index: int) -> tuple[float, int]:
        kind, op, verify = self._ops[kind_index]
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            nbytes = op(self.pair)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            self.failures.append(f"{kind} pair {self.pair}: {exc!r}")
            return time.perf_counter() - t0, 0
        dt = time.perf_counter() - t0
        try:
            verify(self.pair)
        except Exception as exc:  # noqa: BLE001 - mis-verified op
            self.failed += 1
            self.failures.append(f"{kind} pair {self.pair} mis-verified: {exc!r}")
            return dt, 0
        return dt, nbytes

    def run_pair(self) -> tuple[float, float, int]:
        tp, bp = self._run_one(0)
        tu, bu = self._run_one(1)
        self.pair += 1
        return tp, tu, bp + bu

    def warm_up(
        self, min_pairs: int, max_pairs: int, max_seconds: float, host: "HostSpeed"
    ) -> int:
        """Run pairs until the last three pair times agree within
        ``WARM_UP_TOL`` of their median (and at least ``min_pairs`` ran),
        or a cap hits, with ``host``'s calibration rounds between pairs.
        Returns the number of warm-up pairs."""
        times: list[float] = []
        t0 = time.perf_counter()
        while True:
            tp, tu, _ = self.run_pair()
            times.append(tp + tu)
            host.between_pairs(sum(times))
            if len(times) >= max(min_pairs, 3):
                last = times[-3:]
                med = statistics.median(last)
                if (max(last) - min(last)) <= WARM_UP_TOL * med:
                    break
            if len(times) >= max_pairs or time.perf_counter() - t0 >= max_seconds:
                break
        return len(times)

    def timed(self, seconds: float, host: "HostSpeed", on_op=None) -> dict:
        """Run pairs for ``seconds`` of wall time, with ``host``'s
        calibration rounds between pairs and the clock stopped for them;
        return latencies and the wall time and bytes of the timed phase.
        ``on_op(kind, pair, t0, t1)`` is called after each op (the traced
        run records spans with it)."""
        lat = {"protect": [], "unprotect": []}
        nbytes = 0
        start, spent = time.perf_counter(), host.spent_s

        def elapsed() -> float:
            return time.perf_counter() - start - (host.spent_s - spent)

        while elapsed() < seconds:
            for i, (kind, _, _) in enumerate(self._ops):
                w0 = time.time()
                dt, b = self._run_one(i)
                if on_op is not None:
                    on_op(kind, self.pair, w0, time.time())
                lat[kind].append(dt)
                nbytes += b
            self.pair += 1
            host.between_pairs(elapsed())
        return {"latency": lat, "wall_s": elapsed(), "bytes": nbytes}


def e2e_metrics(
    setup_s: float, timed: dict, peak_rss_bytes: int, setup: "HostSpeed", host: "HostSpeed"
) -> tuple[dict, dict, dict]:
    """The end-to-end metrics every workload reports, in BENCHMARK.json
    order (error_rate travels in the result line's attempted/failed).

    Times are scaled to the reference host speed, that of the set-up
    (``setup``) or of the timed phase (``host``): on a host ``speed``
    times as fast as the reference, a time reads ``speed`` times what
    was measured and a throughput ``1 / speed`` times. A latency
    percentile is scaled by the host's speed at the same percentile of
    its rounds: the slowest ops are the ones that met the host at its
    slowest. Returns the scaled metrics, the latency summaries and the
    metrics as measured."""
    p = latency_summary(timed["latency"]["protect"])
    u = latency_summary(timed["latency"]["unprotect"])
    measured = {
        "setup_s": (setup_s, "s"),
        "throughput_mb_s": (timed["bytes"] / MB / timed["wall_s"], "MB/s"),
        "protect_p50_ms": (p["p50_ms"], "ms"),
        "protect_tail_ms": (p["tail_ms"], "ms"),
        "unprotect_p50_ms": (u["p50_ms"], "ms"),
        "unprotect_tail_ms": (u["tail_ms"], "ms"),
        "peak_rss_mb": (peak_rss_bytes / MB, "MB"),
    }
    scale = {
        "setup_s": setup.speed_at(50.0),
        "throughput_mb_s": 1.0 / host.speed_at(50.0),
        "protect_p50_ms": host.speed_at(50.0),
        "protect_tail_ms": host.speed_at(p["tail_pct"]),
        "unprotect_p50_ms": host.speed_at(50.0),
        "unprotect_tail_ms": host.speed_at(u["tail_pct"]),
        "peak_rss_mb": 1.0,
    }
    scaled = {name: (v * scale[name], unit) for name, (v, unit) in measured.items()}
    return scaled, {"protect": p, "unprotect": u}, measured


# ---------------------------------------------------------------------------
# process tree RSS
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    kids = _children_map()
    out, stack = [], [os.getpid()]
    while stack:
        for child in kids.get(stack.pop(), ()):
            out.append(child)
            stack.append(child)
    return out


def _proc_memory(pid: int) -> tuple[str, bytes] | None:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            statm = f.read()
        return os.readlink(f"/proc/{pid}/exe"), statm
    except OSError:
        return None


def _fork_image(mem: tuple[str, bytes], ppid: int, parent_mem) -> bool:
    """Whether a child is still an image of its parent: same executable,
    same memory counters, as a fork or vfork not yet exec'd (the JVM
    spawning a helper). Such a child shares the parent's pages. A vfork
    child reads the parent's live counters, so when the parent has
    allocated since ``parent_mem`` was read, the parent is read again."""
    if parent_mem is None or mem[0] != parent_mem[0]:
        return False
    return mem == parent_mem or mem == _proc_memory(ppid)


def tree_rss(root: int, skip: int = -1) -> tuple[int, int]:
    """(summed resident bytes, process count) of ``root`` and all its
    descendants, leaving out ``skip`` and every fork image of a parent,
    which would count the parent's pages twice."""
    kids = _children_map()
    total = count = 0
    stack = [(root, -1, None)]
    while stack:
        pid, ppid, parent_mem = stack.pop()
        mem = _proc_memory(pid)
        if mem is None:
            continue
        if pid != skip and not _fork_image(mem, ppid, parent_mem):
            total += int(mem[1].split()[1]) * _PAGE
            count += 1
        stack.extend((child, pid, mem) for child in kids.get(pid, ()))
    return total, count


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :][:1] != b"Z"


def reap_descendants(timeout_s: float = 15.0) -> None:
    """Stop every process this run started and wait until each has ended:
    SIGTERM the whole tree at once (so orphans cannot escape it), then
    SIGKILL what is left."""
    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if _running(p)]
            if not pids:
                return
            time.sleep(0.1)


class RssSampler:
    """Peak summed RSS of the benchmark's whole process tree (load
    generator, JVM, Python workers, server) between ``start`` and
    ``stop``. The sampling runs in its own process, so it never holds the
    load generator's interpreter lock; its own memory is left out.
    ``cpus`` keeps it off the CPUs whose timing it would disturb."""

    def __init__(self, cpus: list[int] | None = None):
        self._cpus = cpus
        self._proc = None
        self.peak = 0
        self.samples = 0
        self.peak_procs = 0

    def start(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid())],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            preexec_fn=(lambda: pin(self._cpus)) if self._cpus else None,
        )
        return self

    def stop(self) -> int:
        out, _ = self._proc.communicate(input="stop\n", timeout=30)
        self.peak, self.samples, self.peak_procs = (int(x) for x in out.split())
        return self.peak


def _sample_until_stdin_closes(root: int) -> None:
    peak = samples = peak_procs = 0
    while True:
        total, count = tree_rss(root, skip=os.getpid())
        samples += 1
        if total > peak:
            peak, peak_procs = total, count
        if select.select([sys.stdin], [], [], RSS_INTERVAL_S)[0]:
            break
    print(peak, samples, peak_procs)


# ---------------------------------------------------------------------------
# host speed
# ---------------------------------------------------------------------------

#: median time of one calibration round on the reference host, a 4-vCPU
#: x86-64 guest in its fast state; scaled end-to-end times read as if
#: measured at that speed
CALIBRATION_REF_S = 0.020
#: share of the timed phase's length spent on calibration rounds
CALIBRATION_SHARE = 0.1
#: calibration rounds after each repetition of a short set-up
SETUP_ROUNDS = 4


class HostSpeed:
    """How fast this host runs a fixed reference workload, relative to
    the reference host, while a phase of the run goes on.

    The benchmark's host is a guest on a shared machine whose speed moves
    by a few percent within seconds and by up to 2.5x between states
    lasting up to hours, with CPU steal of 2% or less in most runs: the
    other tenants slow the CPUs themselves, so CPU time moves with wall
    time. Scaling every time by this speed cancels the host's state and
    keeps the program's. The reference workload uses only the standard
    library and numpy, never the program under test, so no change to the
    program can move it; it mixes what the workloads do: a C hash and
    compressor, a numpy sort, and interpreted Python. Its rounds run
    between op pairs, on the CPUs the workload uses in turn, with the
    timed phase's clock stopped, so they sample the host over the same
    window as the ops. The set-up gets its own instance, with rounds
    between set-up repetitions and warm-up pairs, because the host's
    speed during set-up can differ from that during the timed phase."""

    def __init__(self, cpus: list[int]):
        self._cpus = list(cpus)
        self.rounds_s: list[float] = []
        #: wall time spent calibrating, for the callers' clocks to leave out
        self.spent_s = 0.0
        rng = np.random.default_rng(0)
        self._data = rng.integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
        self._floats = rng.random(1 << 18)

    def _round(self) -> float:
        t0 = time.perf_counter()
        hashlib.sha256(self._data).digest()
        zlib.compress(self._data[: 1 << 19], 6)
        np.sort(self._floats)
        counts: dict[int, int] = {}
        for i in range(100_000):
            counts[i & 1023] = counts.get(i & 1023, 0) + i
        return time.perf_counter() - t0

    def run_rounds(self, n: int) -> None:
        """Run ``n`` rounds, on the CPUs in turn."""
        t0 = time.perf_counter()
        before = available_cpus()
        try:
            for _ in range(n):
                pin([self._cpus[len(self.rounds_s) % len(self._cpus)]])
                self.rounds_s.append(self._round())
        finally:
            pin(before)
            self.spent_s += time.perf_counter() - t0

    def between_pairs(self, timed_s: float) -> None:
        """Run rounds until calibrating has taken ``CALIBRATION_SHARE`` of
        the ``timed_s`` seconds of ops timed so far."""
        while self.spent_s < CALIBRATION_SHARE * timed_s:
            self.run_rounds(1)

    def speed_at(self, pct: float) -> float:
        """The reference round time over this host's round time at
        percentile ``pct``: at 50, the host's typical speed; higher, its
        speed at its slower moments."""
        return CALIBRATION_REF_S / percentile(self.rounds_s, pct)

    def record(self) -> dict:
        return {
            "speed": self.speed_at(50.0),
            "reference_round_ms": 1e3 * CALIBRATION_REF_S,
            "round_ms": [1e3 * r for r in self.rounds_s],
            "cpus": self._cpus,
        }


# ---------------------------------------------------------------------------
# CPU pinning and host noise
# ---------------------------------------------------------------------------


def available_cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def pin(cpus: list[int]) -> None:
    os.sched_setaffinity(0, cpus)


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


class HostNoise:
    """Load average and CPU steal over a run, so a noisy run can be
    explained after the fact."""

    def __init__(self):
        self._t0 = _cpu_ticks()
        self.loadavg_start = os.getloadavg()
        self.cpus = available_cpus()

    def finish(self) -> dict:
        total1, steal1 = _cpu_ticks()
        dt = total1 - self._t0[0]
        return {
            "loadavg_start": list(self.loadavg_start),
            "loadavg_end": list(os.getloadavg()),
            "steal_pct": 100.0 * (steal1 - self._t0[1]) / dt if dt else 0.0,
            "cpus": self.cpus,
            "nproc": os.cpu_count(),
        }


if __name__ == "__main__":
    _sample_until_stdin_closes(int(sys.argv[1]))
