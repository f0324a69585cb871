"""Round-trip + property tests for the keystream/encryptor layer.

Ports the intent of the reference suites
``basic_xor_encryptor_test.cpp:29-116`` (block & value-list round-trips,
empty data, different keys => different ciphertext) to the numpy core.
"""

import numpy as np
import pytest

from databatchprotectionservice_spark.core.errors import DBPSInvalidInputError
from databatchprotectionservice_spark.core.keystream import (
    AesSivEncryptor,
    KeystreamXorEncryptor,
    fnv1a64,
    make_encryptor,
)
from databatchprotectionservice_spark.core.wire import bytes_list_to_arrow


def test_fnv1a64_known_vectors():
    # published FNV-1a 64 test vectors
    assert fnv1a64(b"") == 0xCBF29CE484222325
    assert fnv1a64(b"a") == 0xAF63DC4C8601EC8C
    assert fnv1a64(b"foobar") == 0x85944171F73967E8


def test_block_roundtrip():
    enc = KeystreamXorEncryptor("key_A")
    data = bytes(range(256)) * 5
    ct = enc.encrypt_block(data)
    assert ct != data
    assert enc.decrypt_block(ct) == data


def test_block_empty():
    enc = KeystreamXorEncryptor("key_A")
    assert enc.encrypt_block(b"") == b""


def test_different_keys_different_ciphertext():
    data = b"the quick brown fox jumps over the lazy dog"
    ct_a = KeystreamXorEncryptor("key_A").encrypt_block(data)
    ct_b = KeystreamXorEncryptor("key_B").encrypt_block(data)
    assert ct_a != ct_b


def test_keystream_restarts_per_element():
    """Two equal elements must produce equal ciphertext (stream restarts)."""
    enc = KeystreamXorEncryptor("key_A")
    flat, offsets = bytes_list_to_arrow([b"hello", b"hello"])
    ct, _ = enc.encrypt_elements(flat, offsets)
    assert ct[:5].tobytes() == ct[5:].tobytes()
    # and per-element ciphertext equals block ciphertext of one element
    assert ct[:5].tobytes() == enc.encrypt_block(b"hello")
    # the same on a ragged batch, which takes the C per-element XOR
    elems = [b"hello", b"", b"x" * 300, b"ab", bytes(range(40))]
    flat, offsets = bytes_list_to_arrow(elems)
    before = flat.copy()
    ct, _ = enc.encrypt_elements(flat, offsets)
    assert [
        ct[offsets[i] : offsets[i + 1]].tobytes() for i in range(len(elems))
    ] == [enc.encrypt_block(e) for e in elems]
    # the XOR writes a new array and leaves its input as it was
    assert np.array_equal(flat, before)


@pytest.mark.parametrize("name", ["keystream_xor", "aes_siv"])
@pytest.mark.parametrize(
    "values",
    [
        [b"hello", b"", b"\x00\x01\x02", "héllo wörld".encode(), b"x" * 10_000],
        [],
        [b""],
        [np.arange(7, dtype="<i4").tobytes()],
    ],
)
def test_elements_roundtrip(name, values):
    enc = make_encryptor(name, "key_A")
    flat, offsets = bytes_list_to_arrow(values)
    ct_flat, ct_offsets = enc.encrypt_elements(flat, offsets)
    pt_flat, pt_offsets = enc.decrypt_elements(ct_flat, ct_offsets)
    assert np.array_equal(pt_offsets, offsets)
    assert pt_flat.tobytes() == flat.tobytes()


def test_fixed_width_roundtrip_int64():
    enc = KeystreamXorEncryptor("key_fixed")
    arr = np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype="<i8")
    flat = arr.view(np.uint8)
    offsets = np.arange(6, dtype=np.int64) * 8
    ct, _ = enc.encrypt_elements(flat, offsets)
    assert ct.tobytes() != flat.tobytes()
    pt, _ = enc.decrypt_elements(ct, offsets)
    assert np.array_equal(pt.view("<i8"), arr)


def test_aes_siv_roundtrip_and_auth():
    enc = AesSivEncryptor("key_A")
    ct = enc.encrypt_block(b"secret payload")
    assert enc.decrypt_block(ct) == b"secret payload"
    with pytest.raises(Exception):
        AesSivEncryptor("key_B").decrypt_block(ct)  # wrong key must fail


def test_empty_key_rejected():
    with pytest.raises(DBPSInvalidInputError):
        KeystreamXorEncryptor("")


def test_unknown_encryptor_rejected():
    with pytest.raises(DBPSInvalidInputError):
        make_encryptor("rot13", "key_A")
