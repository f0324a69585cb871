"""BatchSIV must be byte-identical to cryptography's AESSIV.

RFC 5297 is fully deterministic, so the batched evaluation (per-round
ECB over all elements) and the scalar library must agree exactly —
checked here over block-boundary lengths, random batches, and the
authentication failure modes. Every test runs on both layouts: the
native C one (when the helper compiled) and the numpy fallback, chosen
through ``_native.LIB`` exactly as in production."""

import hashlib

import numpy as np
import pytest

from databatchprotectionservice_spark.core import _native
from databatchprotectionservice_spark.core.aessiv_batch import (
    MAX_BATCH_BLOCKS,
    BatchSIV,
)
from databatchprotectionservice_spark.core.errors import DBPSInvalidInputError
from databatchprotectionservice_spark.core.keystream import AesSivEncryptor

KEY = hashlib.sha256(b"dbps-key:key_T").digest()
AD = b"value"


def _ref():
    from cryptography.hazmat.primitives.ciphers.aead import AESSIV

    return AESSIV(KEY)


def _arrow(elems):
    flat = np.frombuffer(b"".join(elems), dtype=np.uint8)
    off = np.zeros(len(elems) + 1, dtype=np.int64)
    np.cumsum([len(e) for e in elems], out=off[1:])
    return flat, off


def _layouts(monkeypatch):
    """Yield each AES-SIV layout name with ``_native.LIB`` set for it."""
    lib = _native.LIB
    if lib is not None:
        yield "native"
    monkeypatch.setattr(_native, "LIB", None)
    yield "numpy"
    monkeypatch.setattr(_native, "LIB", lib)


def _elems(flat, off):
    return [
        flat[off[i] : off[i + 1]].tobytes() for i in range(len(off) - 1)
    ]


BOUNDARY_LENS = [0, 1, 15, 16, 17, 31, 32, 33, 47, 48, 100, 1000]


def test_encrypt_matches_cryptography_on_boundary_lengths(monkeypatch):
    rng = np.random.default_rng(3)
    elems = [
        bytes(rng.integers(0, 256, n, dtype=np.uint8))
        for n in BOUNDARY_LENS
    ]
    b = BatchSIV(KEY, AD)
    ref = _ref()
    for layout in _layouts(monkeypatch):
        ct_flat, ct_off = b.encrypt_batch(*_arrow(elems))
        for pt, ct in zip(elems, _elems(ct_flat, ct_off)):
            assert ct == (ref.encrypt(pt, [AD]) if pt else b""), layout


def _assert_parity_and_roundtrip(b, elems, layout):
    ref = _ref()
    ct_flat, ct_off = b.encrypt_batch(*_arrow(elems))
    assert _elems(ct_flat, ct_off) == [
        ref.encrypt(pt, [AD]) if pt else b"" for pt in elems
    ], layout
    pt_flat, pt_off = b.decrypt_batch(ct_flat, ct_off)
    assert _elems(pt_flat, pt_off) == elems, layout
    return ct_flat, ct_off


def test_random_batch_parity_and_roundtrip(monkeypatch):
    rng = np.random.default_rng(11)
    elems = [
        bytes(rng.integers(0, 256, int(rng.integers(0, 64)), dtype=np.uint8))
        for _ in range(400)
    ]
    b = BatchSIV(KEY, AD)
    for layout in _layouts(monkeypatch):
        _assert_parity_and_roundtrip(b, elems, layout)


def test_every_length_up_to_70(monkeypatch):
    rng = np.random.default_rng(12)
    elems = [bytes(rng.integers(0, 256, n, dtype=np.uint8)) for n in range(71)]
    b = BatchSIV(KEY, AD)
    for layout in _layouts(monkeypatch):
        _assert_parity_and_roundtrip(b, elems, layout)
        _assert_parity_and_roundtrip(b, elems[::-1], layout)


def test_null_and_empty_slots_mixed_in(monkeypatch):
    """Null slots reach the cipher as empty elements, like empty
    strings; both stay empty while their neighbours encrypt."""
    elems = [b"", b"alpha", b"", b"", b"x" * 16, b"", b"beta" * 9, b""]
    b = BatchSIV(KEY, AD)
    for layout in _layouts(monkeypatch):
        _assert_parity_and_roundtrip(b, elems, layout)
        # a batch of nothing but empty slots
        _assert_parity_and_roundtrip(b, [b""] * 5, layout)


def test_sixteen_byte_ciphertext_has_empty_body(monkeypatch):
    """A bare IV is the valid encryption of the empty string; any other
    16 bytes fail authentication."""
    empty_ct = _ref().encrypt(b"", [AD])
    assert len(empty_ct) == 16
    b = BatchSIV(KEY, AD)
    for layout in _layouts(monkeypatch):
        flat, off = _arrow([empty_ct, _ref().encrypt(b"abc", [AD])])
        pt_flat, pt_off = b.decrypt_batch(flat, off)
        assert _elems(pt_flat, pt_off) == [b"", b"abc"], layout
        bad = flat.copy()
        bad[3] ^= 1
        with pytest.raises(DBPSInvalidInputError, match="authentication"):
            b.decrypt_batch(bad, off)


class _CountingECB:
    """An ECB context that counts its calls (one per CBC round or CTR)."""

    def __init__(self, inner):
        self.inner, self.calls = inner, 0

    def update(self, data):
        self.calls += 1
        return self.inner.update(data)

    def update_into(self, data, buf):
        self.calls += 1
        return self.inner.update_into(data, buf)


def test_skewed_batch_keeps_the_round_count_bounded(monkeypatch):
    """One 1 MiB element among short ones costs a handful of CBC rounds,
    not its 65,536 blocks: the native layout gives it the scalar call,
    and without the helper the encryptor sends the batch to its scalar
    loop."""
    rng = np.random.default_rng(13)
    big = bytes(rng.integers(0, 256, 1 << 20, dtype=np.uint8))
    elems = [b"short", big] + [b"%d" % i * 3 for i in range(200)]
    flat, off = _arrow(elems)
    ref = _ref()
    enc = AesSivEncryptor("key_T")
    for layout in _layouts(monkeypatch):
        assert enc._route_batch(off, overhead=0) == (layout == "native")
        enc._batch._mac = _CountingECB(enc._batch._mac)
        ct_flat, ct_off = enc.encrypt_elements(flat, off)
        assert _elems(ct_flat, ct_off) == [
            ref.encrypt(pt, [AD]) for pt in elems
        ], layout
        pt_flat, pt_off = enc.decrypt_elements(ct_flat, ct_off)
        assert _elems(pt_flat, pt_off) == elems, layout
        # one S2V on encrypt, one on decrypt, each a handful of rounds
        assert enc._batch._mac.calls <= 10, layout
        enc._batch._mac = enc._batch._mac.inner


def test_routing_follows_the_measured_crossovers(monkeypatch):
    """Native: batch from 2 x rounds + 32 elements. Numpy: a ragged
    batch needing more than 256 CBC rounds runs the scalar loop."""
    enc = AesSivEncryptor("key_T")

    def offsets(lens):
        off = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        return off

    for layout in _layouts(monkeypatch):
        if layout == "native":
            # longest element 130 B: 9 rounds, crossover at 50 elements
            assert enc._route_batch(offsets([20] * 49 + [130]), 0)
            assert not enc._route_batch(offsets([20] * 48 + [130]), 0)
            # past MAX_BATCH_BLOCKS the rounds stop growing
            big = offsets([20] * 161 + [1 << 20])
            assert enc._route_batch(big, 0)
        else:
            assert enc._route_batch(offsets([20] * 999 + [16 * 255]), 0)
            assert not enc._route_batch(offsets([20] * 999 + [16 * 256]), 0)


def test_tamper_and_wrong_key_raise(monkeypatch):
    b = BatchSIV(KEY, AD)
    other = BatchSIV(hashlib.sha256(b"other").digest(), AD)
    for layout in _layouts(monkeypatch):
        ct_flat, ct_off = b.encrypt_batch(*_arrow([b"attack at dawn, eh"]))
        bad = ct_flat.copy()
        bad[20] ^= 1
        with pytest.raises(DBPSInvalidInputError, match="authentication"):
            b.decrypt_batch(bad, ct_off)
        with pytest.raises(DBPSInvalidInputError, match="authentication"):
            other.decrypt_batch(ct_flat, ct_off)


def test_tampered_cell_inside_a_ragged_batch_raises(monkeypatch):
    """One flipped bit anywhere in one cell — IV, body, or a cell long
    enough for the scalar call — fails the whole batch."""
    rng = np.random.default_rng(14)
    elems = [
        bytes(rng.integers(0, 256, n, dtype=np.uint8))
        for n in (3, 0, 40, 17, 16 * MAX_BATCH_BLOCKS + 1, 9)
    ]
    b = BatchSIV(KEY, AD)
    for layout in _layouts(monkeypatch):
        ct_flat, ct_off = b.encrypt_batch(*_arrow(elems))
        for cell, at in ((2, 5), (2, 30), (3, 16), (4, 500)):
            bad = ct_flat.copy()
            bad[ct_off[cell] + at] ^= 0x20
            with pytest.raises(DBPSInvalidInputError, match="authentication"):
                b.decrypt_batch(bad, ct_off)


def test_truncated_ciphertext_raises(monkeypatch):
    b = BatchSIV(KEY, AD)
    for layout in _layouts(monkeypatch):
        with pytest.raises(DBPSInvalidInputError, match="authentication"):
            b.decrypt_batch(
                np.frombuffer(b"short", dtype=np.uint8),
                np.array([0, 5], dtype=np.int64),
            )


def test_native_layout_refuses_offsets_outside_the_buffer():
    """The C routines trust the offsets, so the plan checks them first."""
    if _native.LIB is None:
        pytest.skip("no C compiler: the numpy layout indexes with bounds")
    b = BatchSIV(KEY, AD)
    flat = np.zeros(8, dtype=np.uint8)
    for off in ([0, 4, 9], [0, 5, 3], [-1, 8]):
        with pytest.raises(DBPSInvalidInputError, match="offsets"):
            b.encrypt_batch(flat, np.array(off, dtype=np.int64))


def test_encryptor_batch_and_scalar_paths_agree(monkeypatch):
    """AesSivEncryptor with and without the batch engine produce the
    same bytes and the same offsets (empty-element bypass included)."""
    rng = np.random.default_rng(5)
    elems = [b"", b"x", bytes(rng.integers(0, 256, 40, dtype=np.uint8)), b""]
    # enough elements that both layouts take the batch
    flat, off = _arrow(elems * 16)
    fast = AesSivEncryptor("key_T")
    assert fast._batch is not None
    slow = AesSivEncryptor("key_T")
    monkeypatch.setattr(slow, "_batch", None)
    assert slow._batch is None
    assert not slow._route_batch(off, overhead=0)
    s_flat, s_off = slow.encrypt_elements(flat, off)
    for layout in _layouts(monkeypatch):
        assert fast._route_batch(off, overhead=0), layout
        f_flat, f_off = fast.encrypt_elements(flat, off)
        assert f_flat.tobytes() == s_flat.tobytes(), layout
        assert list(f_off) == list(s_off), layout
        d_flat, d_off = fast.decrypt_elements(f_flat, f_off)
        assert d_flat.tobytes() == flat.tobytes(), layout
        assert list(d_off) == list(off), layout
