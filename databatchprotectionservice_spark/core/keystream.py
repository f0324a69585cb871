"""Pluggable per-value encryptors.

Mirrors the reference's ``DBPSEncryptor`` interface
(``src/processing/encryptors/dbps_encryptor.h:42-118``): a pluggable
scalar-batch cipher with block and per-value entry points, designed so a
real crypto provider can replace the placeholder
(``dbps_encryptor.h:87-109``).

The placeholder ``KeystreamXorEncryptor`` reproduces the *structure* of the
reference's ``BasicXorEncryptor`` (``basic_xor_encryptor.cpp:32-46``): a
key-seeded rolling keystream XORed per byte, with the stream restarting at
every element. The reference seeds from ``std::hash<std::string>`` which is
implementation-defined, so byte-exact ciphertext parity is impossible by
construction (SURVEY §2.4); we instead document a deterministic seed
(FNV-1a 64) and verify round-trip, exactly as the reference's own tests do
(``encryption_sequencer_test.cpp:260``).

Because the keystream restarts per element, the stream bytes depend only on
(key, position-within-element) — so a whole Arrow batch is encrypted with
one vectorized numpy XOR against a cached keystream table instead of a
per-byte loop. This is what makes the Spark UDF fast.

``AesSivEncryptor`` is the real-crypto drop-in (deterministic AES-SIV via
the ``cryptography`` package), slotting into the same interface the way
Protegrity's library would replace the XOR stub.
"""

from __future__ import annotations

import abc
import functools

import numpy as np

from . import _native
from .aessiv_batch import MAX_BATCH_BLOCKS, BatchSIV
from .errors import DBPSInvalidInputError

_MASK64 = (1 << 64) - 1


def fnv1a64(data: bytes) -> int:
    """FNV-1a 64-bit hash — the documented, portable seed for the keystream
    (replaces the reference's implementation-defined ``std::hash``)."""
    h = 0xCBF29CE484222325
    for b in data:
        h = ((h ^ b) * 0x100000001B3) & _MASK64
    return h


def _keystream_step(k: int) -> int:
    """One keystream state update. Mirrors the reference's update
    ``key_hash = (key_hash << 1) | (key_hash >> 31)`` applied to a 64-bit
    state (``basic_xor_encryptor.cpp:42-45``) — including its quirk of
    OR-ing a 31-bit right shift into a 64-bit left shift (documented in
    SURVEY §2.4); the stream byte is ``k & 0xFF``."""
    return ((k << 1) & _MASK64) | (k >> 31)


class Encryptor(abc.ABC):
    """Pluggable cipher contract (mirrors ``dbps_encryptor.h:42-118``).

    ``encrypt_block``/``decrypt_block`` operate on whole byte blobs (used
    for level bytes and the per-block fallback mode). The values variants
    operate element-wise on a typed batch.
    """

    def __init__(self, key_id: str):
        if not key_id:
            raise DBPSInvalidInputError("key_id must be non-empty")
        self.key_id = key_id

    @abc.abstractmethod
    def encrypt_block(self, data: bytes) -> bytes: ...

    @abc.abstractmethod
    def decrypt_block(self, data: bytes) -> bytes: ...

    @abc.abstractmethod
    def encrypt_elements(
        self,
        flat: np.ndarray,
        offsets: np.ndarray,
        uniform_width: int | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Encrypt a batch of elements stored as a flat uint8 array with
        int64 offsets (Arrow layout: element i is
        ``flat[offsets[i]:offsets[i+1]]``). Returns ``(new_flat,
        new_offsets)``; offsets are unchanged for length-preserving
        ciphers. ``uniform_width`` is an optional caller guarantee that
        every element is exactly that many bytes (fixed-width types),
        letting implementations skip the per-element length scan."""

    @abc.abstractmethod
    def decrypt_elements(
        self,
        flat: np.ndarray,
        offsets: np.ndarray,
        uniform_width: int | None = None,
    ) -> tuple[np.ndarray, np.ndarray]: ...

    @property
    @abc.abstractmethod
    def length_preserving(self) -> bool: ...


class KeystreamXorEncryptor(Encryptor):
    """Seeded rolling-keystream XOR, restarting per element (parity
    placeholder; see module docstring). Length-preserving and
    self-inverse."""

    _MAX_CACHED = 1 << 20  # cache keystream prefixes up to 1 MiB

    def __init__(self, key_id: str):
        super().__init__(key_id)
        self._seed = fnv1a64(key_id.encode("utf-8"))

    @property
    def length_preserving(self) -> bool:
        return True

    def _keystream(self, n: int) -> np.ndarray:
        if n <= self._MAX_CACHED:
            # round up to a power of two so the cache converges quickly
            size = 1 << max(4, (n - 1).bit_length())
            return _cached_keystream(self._seed, size)[:n]
        return _gen_keystream(self._seed, n)

    # -- block mode ----------------------------------------------------
    def encrypt_block(self, data: bytes) -> bytes:
        if len(data) == 0:
            return b""
        buf = np.frombuffer(data, dtype=np.uint8)
        return (buf ^ self._keystream(len(buf))).tobytes()

    decrypt_block = encrypt_block  # XOR is self-inverse

    # -- per-value mode ------------------------------------------------
    def _xor_elements(
        self,
        flat: np.ndarray,
        offsets: np.ndarray,
        uniform_width: int | None = None,
    ) -> np.ndarray:
        if flat.size == 0:
            return flat.copy()
        if uniform_width is None:
            lengths = np.diff(offsets)
            max_len = int(lengths.max()) if lengths.size else 0
            min_len = int(lengths.min()) if lengths.size else 0
            if max_len == min_len:
                uniform_width = max_len
        if uniform_width is not None:
            # uniform width (every fixed-size type): broadcast against the
            # keystream row — no per-byte position array, memory-bandwidth
            ks = self._keystream(uniform_width)
            return (flat.reshape(-1, uniform_width) ^ ks).reshape(-1)
        # variable width: per-element XOR in the C helper at memory
        # bandwidth, no position array at all
        return _native.xor_elements(flat, offsets, self._keystream(max_len))

    def encrypt_elements(
        self,
        flat: np.ndarray,
        offsets: np.ndarray,
        uniform_width: int | None = None,
    ):
        return self._xor_elements(flat, offsets, uniform_width), offsets

    decrypt_elements = encrypt_elements


def _gen_keystream(seed: int, n: int) -> np.ndarray:
    """Generate n stream bytes. The state update saturates into a short
    cycle (empirically entered within ~64 steps with a 32-step period for
    every seed), so the stream is materialized as prefix + tiled cycle —
    byte-identical to stepping the recurrence n times, but O(cycle)
    Python work instead of O(n), which is what lets multi-MB per-block
    payloads run at memory bandwidth."""
    prefix: list[int] = []
    seen: dict[int, int] = {}
    k = seed
    while k not in seen and len(prefix) < n:
        seen[k] = len(prefix)
        prefix.append(k & 0xFF)
        k = _keystream_step(k)
    if len(prefix) >= n:
        return np.array(prefix[:n], dtype=np.uint8)
    start = seen[k]
    head = np.array(prefix[:start], dtype=np.uint8)
    cycle = np.array(prefix[start:], dtype=np.uint8)
    reps = -((start - n) // len(cycle))  # ceil((n - start) / len(cycle))
    return np.concatenate([head, np.tile(cycle, reps)])[:n]


@functools.lru_cache(maxsize=64)
def _cached_keystream(seed: int, size: int) -> np.ndarray:
    ks = _gen_keystream(seed, size)
    ks.setflags(write=False)
    return ks


class AesSivEncryptor(Encryptor):
    """Deterministic authenticated encryption (AES-SIV, RFC 5297) — the
    real-crypto implementation slot. Deterministic so Spark task retries
    produce identical ciphertext (the UDF can be marked deterministic).
    NOT length-preserving: adds a 16-byte synthetic IV per element.

    The per-value hot path runs on ``core/aessiv_batch.BatchSIV`` — a
    whole Arrow batch per handful of AES-ECB calls instead of one
    ``AESSIV`` call per element (byte-identical output; parity pinned in
    tests/test_aessiv_batch.py). ``_route_batch`` sends batches the
    batch rounds would run slower (few or very long cells) to one
    ``AESSIV`` call per element, in the same ``BatchSIV``."""

    def __init__(self, key_id: str):
        super().__init__(key_id)
        try:
            from cryptography.hazmat.primitives.ciphers.aead import AESSIV
        except ImportError as e:  # pragma: no cover - gated dependency
            raise DBPSInvalidInputError(
                "AES-SIV requires the 'cryptography' package"
            ) from e
        import hashlib

        # derive a 32-byte AES-SIV key from the key id (stand-in for a KMS
        # lookup; the reference likewise maps key_id -> key material)
        key = hashlib.sha256(b"dbps-key:" + key_id.encode()).digest()
        self._aead = AESSIV(key)
        self._batch = BatchSIV(key, b"value")

    def _route_batch(self, offsets: np.ndarray) -> bool:
        """Batch AES-SIV rounds (True) or one scalar call per element.
        The batch S2V loops once per CBC round, i.e. per 16-byte block
        of its longest element up to MAX_BATCH_BLOCKS (longer elements
        take the scalar call inside the batch too). Batch cost is about
        32 scalar calls fixed plus 2 per round; the crossover measured
        at 8, 32 and 64 rounds on 16 B to 1 KiB ragged strings sat at
        n ~ 48, 96 and 150-190 elements."""
        n = len(offsets) - 1
        if n <= 1:
            return False
        width = int(np.diff(offsets).max())
        rounds = min(width // 16, MAX_BATCH_BLOCKS) + 1
        return 2 * rounds + 32 <= n

    @property
    def length_preserving(self) -> bool:
        return False

    def encrypt_block(self, data: bytes) -> bytes:
        return self._aead.encrypt(data, [b"block"])

    def decrypt_block(self, data: bytes) -> bytes:
        from cryptography.exceptions import InvalidTag

        try:
            return self._aead.decrypt(data, [b"block"])
        except InvalidTag as e:
            raise DBPSInvalidInputError(
                "AES-SIV authentication failed: ciphertext tampered "
                "or wrong key"
            ) from e

    def encrypt_elements(
        self,
        flat: np.ndarray,
        offsets: np.ndarray,
        uniform_width: int | None = None,  # unused: SIV is per-element anyway
    ):
        # zero-length elements pass through unchanged: they represent null
        # slots (whose payload Spark drops) or empty strings — there is no
        # plaintext to protect and SIV ciphertext is never empty, so the
        # mapping stays unambiguous.
        offsets = np.ascontiguousarray(offsets, dtype=np.int64)
        scalar = not self._route_batch(offsets)
        return self._batch.encrypt_batch(flat, offsets, scalar=scalar)

    def decrypt_elements(
        self,
        flat: np.ndarray,
        offsets: np.ndarray,
        uniform_width: int | None = None,  # unused
    ):
        # an InvalidTag surfaces as the engine's error type, so
        # agent.decrypt's never-raise contract holds
        offsets = np.ascontiguousarray(offsets, dtype=np.int64)
        scalar = not self._route_batch(offsets)
        return self._batch.decrypt_batch(flat, offsets, scalar=scalar)


ENCRYPTORS = {
    "keystream_xor": KeystreamXorEncryptor,
    "aes_siv": AesSivEncryptor,
}


def make_encryptor(name: str, key_id: str) -> Encryptor:
    try:
        cls = ENCRYPTORS[name]
    except KeyError:
        raise DBPSInvalidInputError(f"unknown encryptor: {name!r}") from None
    return cls(key_id)
