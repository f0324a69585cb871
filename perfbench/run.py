"""Protection benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload column_kernels --seed 1 --seconds 15 --trace 0

Run from the repository root. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0`` (times scaled to the reference host speed, see
``harness.HostSpeed``), every per-layer metric of BENCHMARK.json with
``--trace 1``. A human summary goes to stderr and the full record
(latency sample counts, tail percentiles, the metrics as measured, the
host speed, host load and steal, and for traced runs the tracing
overhead) to ``.perfbench_out/``. Any failed or
mis-verified op makes the run exit 1. See perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("protected_dataset", "page_service", "column_kernels")


def _isolate_scratch(work: str) -> None:
    """Keep every temporary file of this run, and of the processes it
    starts, inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _layer_metrics(spec: dict, measured: dict) -> dict:
    """Every per-layer metric of the spec, as a traced run must report
    them all; a layer this workload does not exercise reads 0."""
    names = {m["name"] for m in spec["per_layer"]}
    unknown = sorted(set(measured) - names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    return {
        m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec["per_layer"]
    }


def _overhead(out_dir: str, workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end result for the same workload and
    seed, when an untraced record exists."""
    path = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    return {
        name: {
            "untraced": base[name]["value"],
            "traced": traced[name]["value"],
            "delta": traced[name]["value"] - base[name]["value"],
            "ratio": traced[name]["value"] / base[name]["value"]
            if base[name]["value"]
            else None,
        }
        for name in traced
        if name in base
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "databatchprotectionservice_spark")):
        print(
            "error: run from a checkout of the repository; the "
            "databatchprotectionservice_spark package is not here",
            file=sys.stderr,
        )
        return 2
    spec = _load_spec()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _isolate_scratch(work)
    sys.path.insert(0, ROOT)

    module = {
        "protected_dataset": "wl_dataset",
        "page_service": "wl_pages",
        "column_kernels": "wl_kernels",
    }[args.workload]
    noise = harness.HostNoise()
    try:
        result = __import__(module).run(
            args.seed, args.seconds, bool(args.trace), {"root": ROOT, "work": work}
        )
    finally:
        harness.reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    loop = result["loop"]
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in result["e2e"].items()}
    error_rate = loop.failed / loop.attempted if loop.attempted else 1.0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "error_rate": error_rate,
        "failures": loop.failures[:20],
        "end_to_end": e2e,
        "host": noise.finish(),
        **result["details"],
    }
    if args.trace:
        record["per_layer"] = _layer_metrics(spec, result["layers"])
        record["tracing_overhead"] = _overhead(out_dir, args.workload, args.seed, e2e)
    with open(
        os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        "w",
    ) as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)

    measured = result["details"]["measured"]
    for name, m in e2e.items():
        print(
            f"{args.workload} {name} = {m['value']:.6g} {m['unit']} "
            f"(measured {measured[name][0]:.6g})",
            file=sys.stderr,
        )
    speed = result["details"]["host_speed"]["speed"]
    print(f"{args.workload} host speed = {speed:.4g}", file=sys.stderr)
    print(
        f"{args.workload} error_rate = {error_rate:.6g} ratio "
        f"({loop.failed}/{loop.attempted}); host {record['host']}",
        file=sys.stderr,
    )
    for failure in loop.failures[:5]:
        print(f"FAILED {failure}", file=sys.stderr)
    if args.trace and record["tracing_overhead"]:
        for name, o in record["tracing_overhead"].items():
            print(f"tracing overhead {name}: {o['delta']:+.6g}", file=sys.stderr)
    metrics = record["per_layer"] if args.trace else e2e
    correct = loop.failed == 0 and loop.attempted > 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
