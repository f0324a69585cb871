"""The latency statistics every end-to-end metric rests on."""

import pytest

import harness


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50.0), (10, 50.0), (20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    assert harness.tail_pct(n) == pytest.approx(pct)
    if pct > 50.0:
        assert n * (1 - harness.tail_pct(n) / 100) == pytest.approx(10)


def test_tail_never_below_median():
    for n in range(1, 25):
        assert harness.tail_pct(n) >= 50.0


def test_latency_summary_reports_sample_count_and_tail():
    samples = [i / 1000 for i in range(1, 101)]  # 1..100 ms
    s = harness.latency_summary(samples)
    assert s["n"] == 100
    assert s["tail_pct"] == pytest.approx(90.0)
    assert s["p50_ms"] == pytest.approx(50.5)
    assert s["tail_ms"] == pytest.approx(90.1)
    # exactly ten samples lie beyond the tail
    assert sum(1 for x in samples if x * 1e3 > s["tail_ms"]) == 10


def test_percentile_matches_linear_interpolation():
    assert harness.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert harness.percentile([1.0, 2.0], 25) == 1.25
    with pytest.raises(ValueError):
        harness.percentile([], 50)


def test_closed_loop_counts_failures_and_mis_verification():
    def boom(pair):
        raise RuntimeError("op failed")

    def bad_verify(pair):
        raise harness.OpFailed("wrong output")

    loop = harness.ClosedLoop(lambda p: 10, boom, bad_verify, lambda p: None)
    loop.run_pair()
    assert (loop.attempted, loop.failed) == (2, 2)
    assert any("mis-verified" in f for f in loop.failures)


def test_rss_sampler_sees_this_process():
    import os

    total, count = harness.tree_rss(os.getpid())
    assert total > 1 << 20 and count >= 1
    sampler = harness.RssSampler().start()
    peak = sampler.stop()
    assert peak >= 1 << 20 and sampler.samples >= 1 and sampler.peak_procs >= 1


def test_tree_rss_counts_an_unexeced_fork_image_once(monkeypatch):
    page = harness._PAGE
    tree = {1: [2, 3], 2: [4]}
    mem = {
        1: ("/usr/bin/java", b"100 50 0 0 0 0 0"),
        2: ("/usr/bin/java", b"100 50 0 0 0 0 0"),  # vfork image of 1
        3: ("/usr/bin/python3", b"40 20 0 0 0 0 0"),
        4: ("/usr/bin/ls", b"5 2 0 0 0 0 0"),  # what 2 became after exec
    }
    monkeypatch.setattr(harness, "_children_map", lambda: tree)
    monkeypatch.setattr(harness, "_proc_memory", mem.get)
    assert harness.tree_rss(1) == ((50 + 20 + 2) * page, 3)
    assert harness.tree_rss(1, skip=3) == ((50 + 2) * page, 2)


def test_tree_rss_skips_a_vfork_image_of_a_parent_that_allocated(monkeypatch):
    # a vfork child reads its parent's live counters: the parent grew
    # between its own read and the child's, so only a second read of the
    # parent shows the child is its image
    page = harness._PAGE
    tree = {1: [2]}
    reads = {1: iter([b"100 50 0 0 0 0 0", b"120 70 0 0 0 0 0"])}
    fixed = {2: ("/usr/bin/java", b"120 70 0 0 0 0 0")}

    def proc_memory(pid):
        if pid in reads:
            return "/usr/bin/java", next(reads[pid])
        return fixed.get(pid)

    monkeypatch.setattr(harness, "_children_map", lambda: tree)
    monkeypatch.setattr(harness, "_proc_memory", proc_memory)
    assert harness.tree_rss(1) == (50 * page, 1)


def test_a_forked_child_that_diverged_is_counted(monkeypatch):
    page = harness._PAGE
    tree = {1: [2]}
    mem = {
        1: ("/usr/bin/python3", b"100 50 0 0 0 0 0"),
        2: ("/usr/bin/python3", b"100 30 0 0 0 0 0"),  # a pyspark worker
    }
    monkeypatch.setattr(harness, "_children_map", lambda: tree)
    monkeypatch.setattr(harness, "_proc_memory", mem.get)
    assert harness.tree_rss(1) == (80 * page, 2)


def test_e2e_metrics_scale_times_to_the_reference_host():
    timed = {
        "latency": {"protect": [0.010] * 40, "unprotect": [0.020] * 40},
        "wall_s": 2.0,
        "bytes": 40_000_000,
    }
    class Speed:
        def __init__(self, speed, tail_speed=None):
            self._speeds = (speed, tail_speed or speed)

        def speed_at(self, pct):
            return self._speeds[pct > 50.0]

    scaled, lat, measured = harness.e2e_metrics(
        1.5, timed, 300_000_000, setup=Speed(0.5), host=Speed(2.0, tail_speed=3.0)
    )
    assert measured["protect_p50_ms"] == (pytest.approx(10.0), "ms")
    assert measured["throughput_mb_s"] == (pytest.approx(20.0), "MB/s")
    # set-up ran at half the reference speed: its time halves
    assert scaled["setup_s"] == (pytest.approx(0.75), "s")
    # the timed phase ran twice as fast: times double, throughput halves
    assert scaled["protect_p50_ms"] == (pytest.approx(20.0), "ms")
    # tails are scaled by the speed at the host's slower moments
    assert scaled["unprotect_tail_ms"] == (pytest.approx(60.0), "ms")
    assert scaled["protect_tail_ms"] == (pytest.approx(30.0), "ms")
    assert scaled["throughput_mb_s"] == (pytest.approx(10.0), "MB/s")
    assert scaled["peak_rss_mb"] == (pytest.approx(300.0), "MB")  # not a time
    assert lat["protect"]["n"] == 40


def test_timed_phase_interleaves_calibration_with_its_clock_stopped(monkeypatch):
    def fake_round(self):
        harness.time.sleep(0.05)
        return 0.05

    monkeypatch.setattr(harness.HostSpeed, "_round", fake_round)
    cpus = harness.available_cpus()
    host = harness.HostSpeed(cpus[:2])

    def op(pair):
        harness.time.sleep(0.01)
        return 1000

    loop = harness.ClosedLoop(op, op, lambda p: None, lambda p: None)
    t0 = harness.time.perf_counter()
    timed = loop.timed(0.3, host)
    total = harness.time.perf_counter() - t0
    assert harness.available_cpus() == cpus
    rounds = len(host.rounds_s)
    # rounds cover the calibration share of the timed phase, rounding up
    assert 1 <= rounds <= harness.CALIBRATION_SHARE * timed["wall_s"] / 0.05 + 1
    # calibration time is not timed
    assert timed["wall_s"] == pytest.approx(total - host.spent_s, abs=0.01)
    assert host.spent_s >= 0.05 * rounds
    host.run_rounds(3)
    assert len(host.rounds_s) == rounds + 3
    assert host.speed_at(50.0) == pytest.approx(harness.CALIBRATION_REF_S / 0.05)
    assert host.record()["round_ms"] == [pytest.approx(50.0)] * (rounds + 3)


def test_host_speed_at_a_percentile_uses_that_percentile_of_its_rounds():
    host = harness.HostSpeed([0])
    host.rounds_s = [0.010, 0.020, 0.030, 0.040, 0.050]
    ref = harness.CALIBRATION_REF_S
    assert host.speed_at(50.0) == pytest.approx(ref / 0.030)
    assert host.speed_at(75.0) == pytest.approx(ref / 0.040)
    assert host.record()["speed"] == host.speed_at(50.0)
