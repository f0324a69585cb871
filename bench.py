#!/usr/bin/env python
"""Benchmark harness — the driver's per-round performance gate.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock seconds over all headline queries (one
timed run each after a session-warmup query). Each query is driven to
completion with ``df.collect()`` so the measurement includes the full
scan → shuffle → Python-UDF → result path, mirroring how the reference's
``performance_test`` (src/scripts/performance_test.cpp:446-489) times
complete encrypt iterations rather than plan construction.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# The headline set is the ENTIRE registry (VERDICT r1 item 9: a
# regression in any registered operator must be visible in the bench),
# in ``all_queries()`` order, which is registration order.
HEADLINE: list[str] | None = None  # resolved to entrymod.queries() keys

# EVERY query gets ONE discarded warmup run before the timed N
# (VERDICT r10 item 7, generalizing the r9 cache-builder protocol):
# the r10 driver bench's six variance flags were all first-sample
# spikes (codegen, Python-worker pool growth, page-cache faults on a
# contended rig), and the queries that build session-lifetime
# artifacts — PQ/IVF codebooks, k-means centroid memos, the staged
# CDC feed, shingle/df gram caches — need the build paid outside the
# timed runs anyway.  The discarded duration is recorded per query in
# BENCH_DETAIL.json ("warmup") so cold-path regressions stay visible
# without polluting min/median.


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entrymod
    from databatchprotectionservice_spark.plans import get_spark

    spark = get_spark(app_name="dbps-bench")
    qs = entrymod.queries()
    headline = HEADLINE if HEADLINE is not None else list(qs)

    # warm the JVM / Python-worker pool so the first timed query doesn't
    # pay one-time session startup costs
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # min-of-N per query: the first pass eats codegen/Python-worker
    # warmup and the min damps background-load noise on the shared rig.
    # N=3 (VERDICT r3 item 8: n=2 min couldn't separate an 11% rig-noise
    # delta from a regression); all samples + the median go to
    # BENCH_DETAIL.json so cross-round comparisons can use a robust
    # statistic while the stdout `min` stays comparable with r1-r3.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    medians: dict[str, float] = {}
    total = 0.0
    for name in headline:
        fn = qs.get(name)
        if fn is None:
            timings[name] = -1.0
            continue
        best = -1.0
        obs: list[float] = []
        warm = -1.0
        try:
            # discarded warmup: pays codegen / worker-pool growth /
            # codebook training / memo staging / cache builds so the
            # timed runs are all steady-state (recorded, not scored)
            t0 = time.time()
            fn(spark, sf_dir).collect()
            warm = round(time.time() - t0, 3)
            for _ in range(runs):
                t0 = time.time()
                fn(spark, sf_dir).collect()
                dt = time.time() - t0
                obs.append(round(dt, 3))
                best = dt if best < 0 else min(best, dt)
        except Exception as e:  # noqa: BLE001 - report, don't die mid-bench
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            best = -1.0
        timings[name] = round(best, 3)
        samples[name] = {"runs": obs, "warmup": warm}
        # a query's internal .cache()s (minhash/ngram gram tables) are
        # shared across its N runs by design — min-of-N measures the
        # cache-warm steady state — but must not accumulate across the
        # 70+-query sweep, so drop them before the next query
        spark.catalog.clearCache()
        if obs:
            mid = sorted(obs)
            medians[name] = mid[len(mid) // 2]
        if best > 0:
            total += best

    # Full per-query detail goes to a side file; stdout carries ONE compact
    # JSON line.  The driver only retains the last ~2000 characters of
    # stdout, so a line serializing all 70+ registry timings gets its head
    # clipped and fails to parse (this happened in round 2).  Keep the
    # stdout line under a hard budget by dropping the FASTEST queries
    # first — the slow ones are the informative ones — and note how many
    # were omitted.  BENCH_DETAIL.json always has the complete dict.
    # variance guardrail (VERDICT r5 item 6): min-of-N hid a regression
    # whose median was 3x its min. Flag any query whose median/min ratio
    # exceeds 1.5 so cross-round comparisons can't be fooled by a lucky
    # fastest run.
    variance_flags = {
        name: round(medians[name] / timings[name], 2)
        for name in medians
        if timings[name] > 0 and medians[name] / timings[name] > 1.5
    }
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "samples": samples,
        "medians": medians,
        "variance_flags": variance_flags,
        "runs": runs,
        "warmed_up": "all",
        "sf": sf,
    }
    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as e:
        print(f"bench: could not write BENCH_DETAIL.json: {e}", file=sys.stderr)

    budget = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BUDGET", "1800"))
    compact = {
        k: v
        for k, v in detail.items()
        if k not in ("samples", "medians", "warmed_up")
    }
    compact["queries"] = {k: round(v, 2) for k, v in timings.items()}
    # fastest first, but FAILED queries (-1.0) sort last so truncation can
    # never hide a failure from the driver-visible line
    by_speed = sorted(timings, key=lambda k: (timings[k] < 0, timings[k]))
    omitted = 0
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > budget and omitted < len(by_speed):
        del compact["queries"][by_speed[omitted]]
        omitted += 1
        compact["queries_omitted"] = omitted
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
