"""bench.py stdout-line contract: one parseable JSON line under budget,
and FAILED queries (-1.0) must survive truncation (ADVICE r3: sorting
failures first made them the first entries dropped — the opposite of
the intent)."""

import json

from bench import compact_line


def _detail(timings: dict[str, float]) -> dict:
    return {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(v for v in timings.values() if v > 0), 3),
        "unit": "sec",
        "queries": timings,
        "samples": {k: {"runs": [v]} for k, v in timings.items()},
        "medians": dict(timings),
        "runs": 1,
        "warmed_up": "all",
        "sf": 0.1,
    }


def test_failures_survive_truncation():
    timings = {f"q{i:03d}": 0.1 + i * 0.01 for i in range(60)}
    timings["broken_a"] = -1.0
    timings["broken_b"] = -1.0
    line = compact_line(_detail(timings), budget=800)
    parsed = json.loads(line)
    assert len(line) <= 800
    assert parsed["queries"]["broken_a"] == -1.0
    assert parsed["queries"]["broken_b"] == -1.0
    assert parsed["queries_omitted"] > 0
    # the dropped entries are the FASTEST successes, not the failures
    assert "q000" not in parsed["queries"]


def test_no_truncation_when_under_budget():
    timings = {"q1": 1.0, "q2": -1.0}
    parsed = json.loads(compact_line(_detail(timings), budget=10_000))
    assert parsed["queries"] == {"q1": 1.0, "q2": -1.0}
    assert "queries_omitted" not in parsed
    assert "samples" not in parsed and "medians" not in parsed
    assert "warmed_up" not in parsed
