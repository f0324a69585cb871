"""The Spark REST metric-string parser and the per-op fold, on strings
captured from the Spark 4.1 driver's ``/sql?details=true`` endpoint."""

import pytest

import sparkrest

# (metric name, display string) exactly as Spark 4.1.2 returned them
CAPTURED = [
    ("scan time", "21 ms", 21.0, "ms"),
    ("size of files read", "3.8 MiB", 3.8 * 2**20, "bytes"),
    ("number of output rows", "100,000", 100_000.0, "count"),
    ("data sent to Python workers", "2.1 KiB", 2.1 * 2**10, "bytes"),
    ("local bytes read", "127.0 B", 127.0, "bytes"),
    ("written output", "13.3 MiB", 13.3 * 2**20, "bytes"),
    (
        "scan time",
        "total (min, med, max (stageId: taskId))\n2.0 s (61 ms, 650 ms, 677 ms (stage 1.0: task 4))",
        2000.0,
        "ms",
    ),
    (
        "time to run Python workers",
        "total (min, med, max (stageId: taskId))\n11.4 s (2.8 s, 2.9 s, 2.9 s (stage 1.0: task 4))",
        11400.0,
        "ms",
    ),
    (
        "data sent to Python workers",
        "total (min, med, max (stageId: taskId))\n6.5 MiB (1655.3 KiB, 1657.4 KiB, 1658.4 KiB (stage 1.0: task 1))",
        6.5 * 2**20,
        "bytes",
    ),
    (
        "task commit time",
        "total (min, med, max (stageId: taskId))\n57 ms (7 ms, 14 ms, 22 ms (stage 1.0: task 3))",
        57.0,
        "ms",
    ),
    (
        "data size",
        "total (min, med, max (stageId: taskId))\n512.0 B (128.0 B, 128.0 B, 128.0 B (stage 3.0: task 6))",
        512.0,
        "bytes",
    ),
]


@pytest.mark.parametrize("name, text, value, kind", CAPTURED)
def test_parses_captured_spark_41_strings(name, text, value, kind):
    got, got_kind = sparkrest.parse_metric(text)
    assert got_kind == kind
    assert got == pytest.approx(value)


@pytest.mark.parametrize(
    "text, ms",
    [("999 ms", 999.0), ("1.5 s", 1500.0), ("2.0 m", 120_000.0), ("2.5 min", 150_000.0), ("0.50 h", 1_800_000.0)],
)
def test_time_units_normalise_to_ms(text, ms):
    assert sparkrest.parse_metric(text) == (pytest.approx(ms), "ms")


@pytest.mark.parametrize("text, b", [("1.0 GiB", 2**30), ("1.0 TiB", 2**40), ("0.0 B", 0)])
def test_size_units_normalise_to_bytes(text, b):
    assert sparkrest.parse_metric(text) == (pytest.approx(b), "bytes")


@pytest.mark.parametrize("text", ["n/a", "3 parsecs", ""])
def test_unknown_strings_raise(text):
    with pytest.raises(ValueError):
        sparkrest.parse_metric(text)


def _job(job_id, group, start, end, stages):
    return {
        "jobId": job_id,
        "jobGroup": group,
        "submissionTime": f"2026-10-17T01:00:{start:06.3f}GMT",
        "completionTime": f"2026-10-17T01:00:{end:06.3f}GMT",
        "stageIds": stages,
    }


def test_fold_attributes_jobs_stages_and_sql_to_ops():
    from datetime import datetime, timezone

    t0 = datetime(2026, 10, 17, 1, 0, tzinfo=timezone.utc).timestamp()
    snapshot = {
        "jobs": [
            _job(1, "op-a", 1.0, 1.5, [1]),
            _job(2, "op-a", 1.4, 2.0, [2]),  # overlaps job 1
            _job(3, "other", 5.0, 6.0, [3]),
        ],
        "stages": [
            {"stageId": 1, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 4,
             "executorRunTime": 100, "executorCpuTime": 50_000_000, "jvmGcTime": 7},
            {"stageId": 2, "attemptId": 0, "status": "SKIPPED", "numCompleteTasks": 0,
             "executorRunTime": 0, "executorCpuTime": 0, "jvmGcTime": 0},
            {"stageId": 3, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 9,
             "executorRunTime": 999, "executorCpuTime": 1, "jvmGcTime": 1},
        ],
        "sql": [
            {"id": 10, "successJobIds": [1, 2], "nodes": [
                {"nodeName": "ArrowEvalPython", "metrics": [
                    {"name": "time to run Python workers", "value": CAPTURED[7][1]},
                    {"name": "number of output rows", "value": "100,000"},
                ]},
                {"nodeName": "Execute InsertIntoHadoopFsRelationCommand", "metrics": [
                    {"name": "job commit time", "value": "8 ms"},
                    {"name": "task commit time", "value": CAPTURED[9][1]},
                ]},
            ]},
        ],
    }
    ops = [{"group": "op-a", "t0": t0 + 0.5, "t1": t0 + 3.0}]
    m = {k: v for k, (v, _) in sparkrest.fold_ops(snapshot, ops).items()}
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 1  # the skipped stage does not count
    assert m["spark.tasks"] == 4
    assert m["spark.executor_run_ms"] == 100
    assert m["spark.executor_cpu_ms"] == pytest.approx(50.0)
    assert m["spark.gc_ms"] == 7
    assert m["spark.python_run_ms"] == pytest.approx(11_400.0)
    assert m["spark.commit_ms"] == pytest.approx(65.0)
    # op wall 2.5 s, jobs cover 1.0..2.0 s as one union: residual 1.5 s
    assert m["spark.driver_residual_ms"] == pytest.approx(1500.0, abs=1.0)
