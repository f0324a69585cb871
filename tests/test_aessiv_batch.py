"""BatchSIV must be byte-identical to cryptography's AESSIV.

RFC 5297 is fully deterministic, so the batched evaluation (per-round
ECB over all elements) and the scalar library must agree exactly —
checked here over block-boundary lengths, random batches, and the
authentication failure modes, on the batch route and on the scalar
route (one ``AESSIV`` call per element, ``scalar=True``)."""

import hashlib

import numpy as np
import pytest

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


#: BatchSIV's two routes: batched rounds, then one AESSIV call each
ROUTES = (False, True)


def _elems(flat, off):
    return [
        flat[off[i] : off[i + 1]].tobytes() for i in range(len(off) - 1)
    ]


BOUNDARY_LENS = [0, 1, 15, 16, 17, 31, 32, 33, 47, 48, 100, 1000]


def test_encrypt_matches_cryptography_on_boundary_lengths():
    rng = np.random.default_rng(3)
    elems = [
        bytes(rng.integers(0, 256, n, dtype=np.uint8))
        for n in BOUNDARY_LENS
    ]
    b = BatchSIV(KEY, AD)
    ref = _ref()
    for scalar in ROUTES:
        ct_flat, ct_off = b.encrypt_batch(*_arrow(elems), scalar=scalar)
        for pt, ct in zip(elems, _elems(ct_flat, ct_off)):
            assert ct == (ref.encrypt(pt, [AD]) if pt else b""), scalar


def _assert_parity_and_roundtrip(b, elems, scalar):
    ref = _ref()
    ct_flat, ct_off = b.encrypt_batch(*_arrow(elems), scalar=scalar)
    assert _elems(ct_flat, ct_off) == [
        ref.encrypt(pt, [AD]) if pt else b"" for pt in elems
    ], scalar
    pt_flat, pt_off = b.decrypt_batch(ct_flat, ct_off, scalar=scalar)
    assert _elems(pt_flat, pt_off) == elems, scalar
    return ct_flat, ct_off


def test_random_batch_parity_and_roundtrip():
    rng = np.random.default_rng(11)
    elems = [
        bytes(rng.integers(0, 256, int(rng.integers(0, 64)), dtype=np.uint8))
        for _ in range(400)
    ]
    b = BatchSIV(KEY, AD)
    for scalar in ROUTES:
        _assert_parity_and_roundtrip(b, elems, scalar)


def test_every_length_up_to_70():
    rng = np.random.default_rng(12)
    elems = [bytes(rng.integers(0, 256, n, dtype=np.uint8)) for n in range(71)]
    b = BatchSIV(KEY, AD)
    for scalar in ROUTES:
        _assert_parity_and_roundtrip(b, elems, scalar)
        _assert_parity_and_roundtrip(b, elems[::-1], scalar)


def test_null_and_empty_slots_mixed_in():
    """Null slots reach the cipher as empty elements, like empty
    strings; both stay empty while their neighbours encrypt."""
    elems = [b"", b"alpha", b"", b"", b"x" * 16, b"", b"beta" * 9, b""]
    b = BatchSIV(KEY, AD)
    for scalar in ROUTES:
        _assert_parity_and_roundtrip(b, elems, scalar)
        # a batch of nothing but empty slots
        _assert_parity_and_roundtrip(b, [b""] * 5, scalar)


def test_sixteen_byte_ciphertext_has_empty_body():
    """A bare IV is the valid encryption of the empty string; any other
    16 bytes fail authentication."""
    empty_ct = _ref().encrypt(b"", [AD])
    assert len(empty_ct) == 16
    b = BatchSIV(KEY, AD)
    flat, off = _arrow([empty_ct, _ref().encrypt(b"abc", [AD])])
    bad = flat.copy()
    bad[3] ^= 1
    for scalar in ROUTES:
        pt_flat, pt_off = b.decrypt_batch(flat, off, scalar=scalar)
        assert _elems(pt_flat, pt_off) == [b"", b"abc"], scalar
        with pytest.raises(DBPSInvalidInputError, match="authentication"):
            b.decrypt_batch(bad, off, scalar=scalar)


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


def test_skewed_batch_keeps_the_round_count_bounded():
    """One 1 MiB element among short ones costs a handful of CBC rounds,
    not its 65,536 blocks: the batch gives it the scalar call. The
    scalar route gives the same bytes."""
    rng = np.random.default_rng(13)
    big = bytes(rng.integers(0, 256, 1 << 20, dtype=np.uint8))
    elems = [b"short", big] + [b"%d" % i * 3 for i in range(200)]
    flat, off = _arrow(elems)
    ref = _ref()
    enc = AesSivEncryptor("key_T")
    assert enc._route_batch(off)
    enc._batch._mac = _CountingECB(enc._batch._mac)
    ct_flat, ct_off = enc.encrypt_elements(flat, off)
    assert _elems(ct_flat, ct_off) == [ref.encrypt(pt, [AD]) for pt in elems]
    pt_flat, pt_off = enc.decrypt_elements(ct_flat, ct_off)
    assert _elems(pt_flat, pt_off) == elems
    # one S2V on encrypt, one on decrypt, each a handful of rounds
    assert enc._batch._mac.calls <= 10
    enc._batch._mac = enc._batch._mac.inner
    s_flat, s_off = enc._batch.encrypt_batch(flat, off, scalar=True)
    assert s_flat.tobytes() == ct_flat.tobytes()
    assert list(s_off) == list(ct_off)
    pt_flat, pt_off = enc._batch.decrypt_batch(ct_flat, ct_off, scalar=True)
    assert _elems(pt_flat, pt_off) == elems


def test_routing_follows_the_measured_crossovers():
    """Batch from 2 x rounds + 32 elements, rounds capped by
    MAX_BATCH_BLOCKS."""
    enc = AesSivEncryptor("key_T")

    def offsets(lens):
        off = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        return off

    # longest element 130 B: 9 rounds, crossover at 50 elements
    assert enc._route_batch(offsets([20] * 49 + [130]))
    assert not enc._route_batch(offsets([20] * 48 + [130]))
    # past MAX_BATCH_BLOCKS the rounds stop growing
    assert enc._route_batch(offsets([20] * 161 + [1 << 20]))
    assert not enc._route_batch(offsets([20] * 160 + [1 << 20]))


def test_tamper_and_wrong_key_raise():
    b = BatchSIV(KEY, AD)
    other = BatchSIV(hashlib.sha256(b"other").digest(), AD)
    ct_flat, ct_off = b.encrypt_batch(*_arrow([b"attack at dawn, eh"]))
    bad = ct_flat.copy()
    bad[20] ^= 1
    for scalar in ROUTES:
        with pytest.raises(DBPSInvalidInputError, match="authentication"):
            b.decrypt_batch(bad, ct_off, scalar=scalar)
        with pytest.raises(DBPSInvalidInputError, match="authentication"):
            other.decrypt_batch(ct_flat, ct_off, scalar=scalar)


def test_tampered_cell_inside_a_ragged_batch_raises():
    """One flipped bit anywhere in one cell — IV, body, or a cell long
    enough for the scalar call — fails the whole batch."""
    rng = np.random.default_rng(14)
    elems = [
        bytes(rng.integers(0, 256, n, dtype=np.uint8))
        for n in (3, 0, 40, 17, 16 * MAX_BATCH_BLOCKS + 1, 9)
    ]
    b = BatchSIV(KEY, AD)
    ct_flat, ct_off = b.encrypt_batch(*_arrow(elems))
    for scalar in ROUTES:
        for cell, at in ((2, 5), (2, 30), (3, 16), (4, 500)):
            bad = ct_flat.copy()
            bad[ct_off[cell] + at] ^= 0x20
            with pytest.raises(DBPSInvalidInputError, match="authentication"):
                b.decrypt_batch(bad, ct_off, scalar=scalar)


def test_truncated_ciphertext_raises():
    b = BatchSIV(KEY, AD)
    for scalar in ROUTES:
        with pytest.raises(DBPSInvalidInputError, match="authentication"):
            b.decrypt_batch(
                np.frombuffer(b"short", dtype=np.uint8),
                np.array([0, 5], dtype=np.int64),
                scalar=scalar,
            )


def test_native_layout_refuses_offsets_outside_the_buffer():
    """The C routines trust the offsets, so the plan checks them first."""
    b = BatchSIV(KEY, AD)
    flat = np.zeros(8, dtype=np.uint8)
    for scalar in ROUTES:
        for off in ([0, 4, 9], [0, 5, 3], [-1, 8]):
            off = np.array(off, dtype=np.int64)
            with pytest.raises(DBPSInvalidInputError, match="offsets"):
                b.encrypt_batch(flat, off, scalar=scalar)


def test_encryptor_batch_and_scalar_paths_agree():
    """AesSivEncryptor reaches the scalar route for a batch below
    2 x rounds + 32 elements and the batch route above it; both give
    AESSIV's bytes and offsets (empty-element bypass included) and
    decrypt back."""
    rng = np.random.default_rng(5)
    elems = [b"", b"x", bytes(rng.integers(0, 256, 40, dtype=np.uint8)), b""]
    ref = _ref()
    enc = AesSivEncryptor("key_T")
    # 40 B longest: 3 rounds, so the crossover sits at 38 elements
    for copies, batched in ((9, False), (16, True)):
        plain = elems * copies
        flat, off = _arrow(plain)
        assert enc._route_batch(off) == batched
        ct_flat, ct_off = enc.encrypt_elements(flat, off)
        assert _elems(ct_flat, ct_off) == [
            ref.encrypt(pt, [AD]) if pt else b"" for pt in plain
        ], batched
        pt_flat, pt_off = enc.decrypt_elements(ct_flat, ct_off)
        assert pt_flat.tobytes() == flat.tobytes(), batched
        assert list(pt_off) == list(off), batched
