"""Spark metrics read from outside the program, through the driver's REST
API (``/api/v1/applications/<id>/{jobs,stages,sql}``), and folded into
per-op layer numbers.

SQL node metrics arrive as display strings. A metric updated by one
task reads ``"21 ms"`` or ``"3.8 MiB"``; one updated by several reads
``"total (min, med, max (stageId: taskId))\\n553 ms (10 ms, ...)"``.
:func:`parse_metric` takes the total and normalises its unit."""

from __future__ import annotations

import json
import re
import urllib.request
from datetime import datetime, timezone

_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_SIZE_B = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> tuple[float, str]:
    """``(value, kind)`` with kind ``"ms"`` (times), ``"bytes"`` (sizes)
    or ``"count"``. For aggregated strings the total is taken."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable Spark metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_MS:
        return number * _TIME_MS[unit], "ms"
    if unit in _SIZE_B:
        return number * _SIZE_B[unit], "bytes"
    if unit == "":
        return number, "count"
    raise ValueError(f"unknown unit {unit!r} in Spark metric {text!r}")


def _ts(text: str) -> float:
    """REST timestamp (``2026-10-17T01:08:52.901GMT``) -> epoch seconds."""
    return (
        datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def fetch(ui_url: str, app_id: str) -> dict:
    base = f"{ui_url}/api/v1/applications/{app_id}"
    return {
        "jobs": _get(f"{base}/jobs"),
        "stages": _get(f"{base}/stages"),
        "sql": _get(f"{base}/sql?details=true&planDescription=false&length=100000"),
    }


#: SQL node metric name -> (layer metric, conversion of the parsed value)
NODE_METRICS = {
    "time to run Python workers": ("spark.python_run_ms", 1.0),
    "time to initialize Python workers": ("spark.python_init_ms", 1.0),
    "time to start Python workers": ("spark.python_start_ms", 1.0),
    "data sent to Python workers": ("spark.python_sent_mb", 1e-6),
    "data returned from Python workers": ("spark.python_returned_mb", 1e-6),
    "scan time": ("spark.scan_ms", 1.0),
    "size of files read": ("spark.scan_mb", 1e-6),
    "written output": ("spark.written_mb", 1e-6),
    "job commit time": ("spark.commit_ms", 1.0),
    "task commit time": ("spark.commit_ms", 1.0),
}

SPARK_METRICS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.python_run_ms", "ms"),
    ("spark.python_init_ms", "ms"),
    ("spark.python_start_ms", "ms"),
    ("spark.python_sent_mb", "MB"),
    ("spark.python_returned_mb", "MB"),
    ("spark.scan_ms", "ms"),
    ("spark.scan_mb", "MB"),
    ("spark.written_mb", "MB"),
    ("spark.commit_ms", "ms"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.driver_residual_ms", "ms"),
)


def _union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def fold_ops(snapshot: dict, ops: list[dict]) -> dict:
    """Per-op means of the Spark layer metrics.

    ``ops`` holds ``{"group": job group id, "t0": epoch, "t1": epoch}``
    for every timed op; jobs are matched to ops by job group."""
    jobs_by_group: dict[str, list[dict]] = {}
    for job in snapshot["jobs"]:
        jobs_by_group.setdefault(job.get("jobGroup") or "", []).append(job)
    stages = {(s["stageId"], s["attemptId"]): s for s in snapshot["stages"]}
    sql_by_job: dict[int, dict] = {}
    for ex in snapshot["sql"]:
        for jid in (
            ex.get("successJobIds", [])
            + ex.get("failedJobIds", [])
            + ex.get("runningJobIds", [])
        ):
            sql_by_job[jid] = ex
    totals = {name: 0.0 for name, _ in SPARK_METRICS}
    for op in ops:
        jobs = jobs_by_group.get(op["group"], [])
        totals["spark.jobs"] += len(jobs)
        seen_sql: set[int] = set()
        intervals = []
        for job in jobs:
            if "completionTime" in job:
                intervals.append((_ts(job["submissionTime"]), _ts(job["completionTime"])))
            ex = sql_by_job.get(job["jobId"])
            if ex is not None and ex["id"] not in seen_sql:
                seen_sql.add(ex["id"])
                for node in ex.get("nodes", []):
                    for m in node.get("metrics", []):
                        hit = NODE_METRICS.get(m["name"])
                        if hit is not None:
                            value, _ = parse_metric(m["value"])
                            totals[hit[0]] += value * hit[1]
            for sid in job.get("stageIds", []):
                stage = stages.get((sid, 0))
                if stage is None or stage.get("status") == "SKIPPED":
                    continue
                totals["spark.stages"] += 1
                totals["spark.tasks"] += stage.get("numCompleteTasks", 0)
                totals["spark.executor_run_ms"] += stage.get("executorRunTime", 0)
                totals["spark.executor_cpu_ms"] += stage.get("executorCpuTime", 0) / 1e6
                totals["spark.gc_ms"] += stage.get("jvmGcTime", 0)
        wall = op["t1"] - op["t0"]
        totals["spark.driver_residual_ms"] += 1e3 * (
            wall - _union_seconds(intervals, op["t0"], op["t1"])
        )
    n = max(len(ops), 1)
    return {name: (totals[name] / n, unit) for name, unit in SPARK_METRICS}
