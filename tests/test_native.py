"""The optional C helper (``core/_native.py``): how it is built and what
happens when it cannot be.

Each case imports the module in a fresh interpreter whose temp dir is
empty, so the helper is compiled (or fails to compile) from scratch."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, warnings
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    from databatchprotectionservice_spark.core import _native
print(json.dumps({
    "loaded": _native.LIB is not None,
    "why": _native.UNAVAILABLE,
    "warnings": [str(w.message) for w in caught
                 if issubclass(w.category, RuntimeWarning)],
}))
"""


def _env(tmp_path, **extra):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    env.pop("DBPS_NATIVE", None)
    env.update(extra)
    return env


def _probe(env) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _PROBE],
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _result(proc) -> dict:
    out, err = proc.communicate(timeout=120)
    assert proc.returncode == 0, err
    return json.loads(out.strip().splitlines()[-1])


@pytest.mark.skipif(
    not any(shutil.which(cc) for cc in ("cc", "gcc", "clang")),
    reason="no C compiler",
)
def test_concurrent_first_imports_all_load(tmp_path):
    """Workers that start together in an empty temp dir each compile the
    helper; none may read a source file another is rewriting."""
    procs = [_probe(_env(tmp_path)) for _ in range(6)]
    results = [_result(p) for p in procs]
    assert [r["loaded"] for r in results] == [True] * 6, results
    assert all(r["warnings"] == [] for r in results)
    # only the shared library is left behind
    left = os.listdir(tmp_path / "dbps_native")
    assert len(left) == 1 and left[0].endswith(".so"), left


def test_missing_compiler_warns_once_with_the_reason(tmp_path):
    empty_bin = tmp_path / "bin"
    empty_bin.mkdir()
    got = _result(_probe(_env(tmp_path, PATH=str(empty_bin))))
    assert not got["loaded"]
    assert "no C compiler" in got["why"]
    assert len(got["warnings"]) == 1
    assert got["why"] in got["warnings"][0]


def test_switched_off_is_quiet(tmp_path):
    got = _result(_probe(_env(tmp_path, DBPS_NATIVE="0")))
    assert not got["loaded"]
    assert "DBPS_NATIVE=0" in got["why"]
    assert got["warnings"] == []
