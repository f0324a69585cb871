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


# -- hostile layouts for the protect-kernel passes ---------------------------
# Both passes must refuse offsets that decrease or leave their buffer (-1),
# and a bitmap that disagrees with the caller's valid count (-2), before
# reading through them; an empty batch is an empty result.

import numpy as np  # noqa: E402
import pytest  # noqa: E402

from databatchprotectionservice_spark.core import _native  # noqa: E402

DATA = np.frombuffer(b"\x06abc\x06de\x06f", np.uint8)  # three tagged cells
GOOD = [0, 4, 7, 9]
HOSTILE = {
    "decreasing": [0, 4, 2, 9],
    "past_the_buffer": [0, 4, 7, 4096],
    "negative_start": [-8, 4, 7, 9],
}


@pytest.mark.parametrize("dtype", [np.int32, np.int64])
@pytest.mark.parametrize("case", sorted(HOSTILE))
def test_gather_refuses_hostile_offsets(case, dtype):
    offsets = np.array(HOSTILE[case], dtype)
    assert _native.gather(DATA, 3, None, 3, offsets)[0] == -1
    assert _native.gather(DATA, 3, None, 3, offsets, tag=6)[0] == -1
    ok = np.zeros(3, np.uint8)
    assert _native.gather(DATA, 3, None, 3, offsets, tag=6, ok=ok)[0] == -1


@pytest.mark.parametrize("case", sorted(HOSTILE))
def test_scatter_refuses_hostile_offsets(case):
    boff = np.array(HOSTILE[case], np.int64)
    for kind in ({"tag": 6}, {"width": 3}, {}):
        assert _native.scatter(DATA, boff, 3, None, **kind)[0] == -1


def test_fixed_width_rows_must_fit_the_buffer():
    valid = np.array([0b101], np.uint8)  # rows 0 and 2
    assert _native.gather(DATA, 3, valid, 2, width=4)[0] == -1  # 12 > 9 bytes
    err, rows, boff, _ = _native.gather(DATA, 3, valid, 2, width=3)
    assert err == 0 and bytes(rows) == b"\x06abe\x06f" and boff.tolist() == [0, 3, 6]
    err, rows, boff, _ = _native.gather(DATA, 3, None, 3, width=3)
    assert err == 0 and bytes(rows) == bytes(DATA) and boff.tolist() == [0, 3, 6, 9]


def test_passes_refuse_a_bitmap_that_disagrees_with_the_count():
    valid = np.array([0b011], np.uint8)  # two valid rows, caller says three
    offsets = np.array(GOOD, np.int64)
    assert _native.gather(DATA, 3, valid, 3, offsets)[0] == -2
    assert _native.gather(DATA, 3, valid, 3, width=3)[0] == -2
    assert _native.gather(DATA, 3, valid, 3, offsets, tag=6)[0] == -2
    thirds = np.array([0, 3, 6, 9], np.int64)
    for kind in ({"tag": 6}, {"width": 3}, {}):
        assert _native.scatter(DATA, thirds, 3, valid, **kind)[0] == -2


def test_passes_on_an_empty_batch():
    empty = np.empty(0, np.uint8)
    for dtype in (np.int32, np.int64):
        for tag in (-1, 6):
            err, flat, boff, info = _native.gather(empty, 0, None, 0, np.zeros(1, dtype), tag=tag)
            assert (err, flat.size, boff.tolist(), info[:3]) == (0, 0, [0], [0, -1, -1])
    assert _native.gather(empty, 0, None, 0, width=8)[0] == 0
    boff = np.zeros(1, np.int64)
    err, out, out_off = _native.scatter(empty, boff, 0, None, tag=6)
    assert (err, out.size, out_off.tolist()) == (0, 0, [0])
    assert _native.scatter(empty, boff, 0, None, width=8)[0] == 0
    assert _native.scatter(empty, boff, 0, None)[0] == 0


def test_untag_reports_the_first_bad_cell():
    offsets = np.array([0, 4, 4, 9], np.int64)  # row 1 is empty
    err, *_, info = _native.gather(DATA, 3, None, 3, offsets, tag=6)
    assert (err, info[2]) == (1, 1)
    err, *_, info = _native.gather(DATA, 3, None, 3, np.array(GOOD, np.int64), tag=7)
    assert (err, info[2], info[3]) == (2, 0, 6)
    ok = np.zeros(3, np.uint8)
    err, flat, boff, info = _native.gather(DATA, 3, None, 3, offsets, tag=6, ok=ok)
    assert err == 0 and ok.tolist() == [1, 0, 1] and bytes(flat) == b"abcde\x06f"
    assert boff.tolist() == [0, 3, 7] and info[:2] == [2, -1]


def test_passes_refuse_short_bitmaps_and_offsets():
    valid = np.array([0b1], np.uint8)  # 8 bits for 9 rows
    assert _native.gather(DATA, 9, valid, 1, width=1)[0] == -1
    assert _native.gather(DATA, 3, None, 3, np.array([0, 4, 7], np.int64))[0] == -1
    assert _native.scatter(DATA, np.array([0, 9], np.int64), 9, valid)[0] == -1


def test_xor_elements_copies_the_bytes_outside_the_elements():
    flat = np.frombuffer(b"..abcdefg..", np.uint8)
    ks = np.array([1, 2, 3, 4, 5], np.uint8)
    out = _native.xor_elements(flat, np.array([2, 4, 9], np.int64), ks)
    want = b".." + bytes(c ^ k for c, k in zip(b"ab", ks)) + bytes(
        c ^ k for c, k in zip(b"cdefg", ks)
    ) + b".."
    assert out.tobytes() == want and flat.tobytes() == b"..abcdefg.."


# -- strict base64 ------------------------------------------------------------
# The page service's decoder takes canonical RFC 4648 section 4 base64 only.
# It must accept a subset of what binascii's strict mode accepts, with equal
# bytes wherever both accept, and never touch memory outside its buffers.

import base64  # noqa: E402
import binascii  # noqa: E402
import random  # noqa: E402

_ALPHABET = b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"


def _strict(text: bytes) -> bytes | None:
    try:
        return binascii.a2b_base64(text, strict_mode=True)
    except binascii.Error:
        return None


def _b64_cases(rng: random.Random):
    noise = _ALPHABET + b"= -_\n\r\t.\x00\x80\xff"
    for _ in range(2000):
        raw = rng.randbytes(rng.randrange(0, 48))
        text = base64.b64encode(raw)
        yield "valid", text
        if text:
            mutated = bytearray(text)
            for _ in range(rng.randrange(1, 3)):
                mutated[rng.randrange(len(mutated))] = rng.choice(noise)
            yield "mutated", bytes(mutated)
            yield "truncated", text[: rng.randrange(len(text))]
        yield "random", bytes(rng.choice(_ALPHABET + b"=") for _ in range(rng.randrange(9)))


def test_b64decode_accepts_a_subset_of_binascii_strict():
    rng = random.Random(20261019)
    accepted = {"valid": 0, "mutated": 0, "truncated": 0, "random": 0}
    for kind, text in _b64_cases(rng):
        got = _native.b64decode(text)
        if kind == "valid":
            assert got == base64.b64decode(text), text
        if got is not None:
            assert _strict(text) == got, (kind, text)
            accepted[kind] += 1
    # every family exercised both verdicts
    assert accepted["valid"] == 2000
    assert 0 < accepted["mutated"] < 2000 and 0 < accepted["truncated"] < 2000


def test_b64decode_rejects_excess_padding_that_binascii_accepts():
    """CPython 3.11's strict mode takes padding past a complete group."""
    for text in (b"I4CV=", b"QUJD====", b"QUJD="):
        assert _strict(text) is not None
        assert _native.b64decode(text) is None


@pytest.mark.parametrize(
    "text",
    [b"QUJ", b"QUJDR", b"QU=D", b"Q=JD", b"=UJD", b"QUJD=QUJ", b"Q===",
     b"QUJD\nQUJD", b"QU D", b"QUJ\x80", b"QUJ-", b"====", b"QUJDQU=\x00"],
)
def test_b64decode_refuses_hostile_input(text):
    out = np.full(len(text) + 8, 0xAA, np.uint8)
    assert _native.LIB.dbps_b64decode(text, len(text), _native._u8(out), len(text)) == -1
    assert _native.b64decode(text) is None


def test_b64decode_empty_and_bounded():
    out = np.full(8, 0xAA, np.uint8)
    assert _native.LIB.dbps_b64decode(b"", 0, _native._u8(out), 0) == 0
    assert _native.b64decode(b"") == b""
    # the output of "QUJD" (3 bytes) does not fit in 2: refused, nothing written
    assert _native.LIB.dbps_b64decode(b"QUJD", 4, _native._u8(out), 2) == -1
    assert out.tolist() == [0xAA] * 8
    assert _native.LIB.dbps_b64decode(b"QUI=", 4, _native._u8(out), 2) == 2
    assert out[:2].tobytes() == b"AB" and out[2:].tolist() == [0xAA] * 6
    assert _native.LIB.dbps_b64decode(b"QUJD", -4, _native._u8(out), 8) == -1
