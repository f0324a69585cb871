"""The required C helper (``core/_native.py``): how it is built and what
happens when it cannot be.

Each case imports the module in a fresh interpreter whose temp dir is
empty, so the helper is compiled (or fails to compile) from scratch."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, warnings
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always")
    from databatchprotectionservice_spark.core import _native
print(json.dumps({
    "lib": _native.LIB._name,
    "warnings": [str(w.message) for w in caught],
}))
"""


def _env(tmp_path, **extra):
    return dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO, **extra)


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


def test_concurrent_first_imports_all_load(tmp_path):
    """Workers that start together in an empty temp dir each compile the
    helper; none may read a source file another is rewriting."""
    procs = [_probe(_env(tmp_path)) for _ in range(6)]
    results = [_result(p) for p in procs]
    assert all(r["warnings"] == [] for r in results)
    # only the shared library is left behind, and every worker bound it
    left = os.listdir(tmp_path / "dbps_native")
    assert len(left) == 1 and left[0].endswith(".so"), left
    so_path = str(tmp_path / "dbps_native" / left[0])
    assert [r["lib"] for r in results] == [so_path] * 6, results


def test_missing_compiler_raises_naming_each_compiler(tmp_path):
    """No slower fallback: without a compiler the import fails, and the
    error says what each compiler it tried reported."""
    empty_bin = tmp_path / "bin"
    empty_bin.mkdir()
    proc = _probe(_env(tmp_path, PATH=str(empty_bin)))
    out, err = proc.communicate(timeout=120)
    assert proc.returncode != 0 and not out
    last = err.strip().splitlines()[-1]
    assert last.startswith("RuntimeError: no C compiler built the helper")
    # one "<compiler>: <its error>" entry per compiler, in order
    tried = last.split("(", 1)[1].rstrip(")").split("; ")
    assert [t.split(":")[0] for t in tried] == ["cc", "gcc", "clang"], last
