"""Batched AES-SIV (RFC 5297) — the per-value AEAD hot path.

``cryptography``'s ``AESSIV`` has no batch API, so the naive per-value
path pays one Python round-trip per element — the one known 100 TB
trade-off called out in SCALE.md. This module closes it by evaluating
RFC 5297 directly over AES-ECB, which IS batchable:

* **S2V / CMAC**: CBC-MAC chains are sequential per element but
  independent ACROSS elements, so round ``j`` encrypts block ``j`` of
  every still-active element in ONE ``Cipher(AES, ECB)`` update call.
  Python calls per batch = max block count, not element count.
* **CTR**: SIV's counter mode is ``AES(Q+t)`` keystream XOR plaintext;
  all counter blocks of all elements concatenate into a single ECB
  call.

The byte layout around those AES calls (padded S2V blocks, each
round's gather and scatter, counter blocks, writing IV and body into
the output) runs in the C helper (``core/_native.py``). An element of
more than ``MAX_BATCH_BLOCKS`` blocks takes one scalar ``AESSIV`` call
instead, so the number of CBC rounds per batch stays bounded however
skewed the lengths are; ``scalar=True`` sends every element there.

Output is byte-identical to
``cryptography.hazmat.primitives.ciphers.aead.AESSIV`` (pinned by
tests/test_aessiv_batch.py against random vectors on both routes),
because RFC 5297 is fully deterministic.

Scalar reference: mirrors the semantics of the reference's pluggable
encryptor slot (``dbps_encryptor.h:87-109``); the keystream/XOR twin
lives in ``core/keystream.py``.
"""

from __future__ import annotations

import numpy as np

from . import _native
from .errors import DBPSInvalidInputError

_BS = 16  # AES block size
#: elements with more body blocks than this take the scalar AESSIV call.
#: A CBC round costs about as much as one scalar call (both ~5 us on a
#: 4-core x86 VM) however few chains it carries, so a lone long element
#: is cheaper alone. Measured there: a lower cap sends bulk 64-1024 B
#: strings to the 2x slower scalar call (16,384 cells: 29 ms at 64,
#: 58 ms at 32), a higher one gains at most ~25% on bulk 1-4 KiB
#: strings, where AES itself dominates.
MAX_BATCH_BLOCKS = 64
_MAX_BODY = MAX_BATCH_BLOCKS * _BS


def _dbl(block: bytes) -> bytes:
    """RFC 5297 doubling in GF(2^128): shl 1, conditionally XOR 0x87."""
    n = int.from_bytes(block, "big")
    n <<= 1
    if n >> 128:
        n = (n & ((1 << 128) - 1)) ^ 0x87
    return n.to_bytes(_BS, "big")


def _pad(data: bytes) -> bytes:
    """10* padding to one block."""
    return data + b"\x80" + b"\x00" * (_BS - len(data) - 1)


_AUTH_FAIL = (
    "AES-SIV authentication failed: ciphertext tampered or wrong key"
)


class BatchSIV:
    """Vectorized AES-SIV over Arrow-layout batches (flat uint8 + int64
    offsets). One instance per (key, associated-data) pair; the S2V
    constants for the fixed AD are precomputed once."""

    def __init__(self, key: bytes, ad: bytes):
        if len(key) != 32:
            raise DBPSInvalidInputError("BatchSIV wants a 32-byte key")
        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )
        from cryptography.hazmat.primitives.ciphers.aead import AESSIV

        self._ad = ad
        self._aead = AESSIV(key)  # the scalar call
        # RFC 5297: first half is the S2V (CMAC) key, second the CTR key
        self._mac = Cipher(algorithms.AES(key[:_BS]), modes.ECB()).encryptor()
        self._ctr = Cipher(algorithms.AES(key[_BS:]), modes.ECB()).encryptor()
        # CMAC subkeys
        zero = b"\x00" * _BS
        self._k1 = _dbl(self._mac.update(zero))
        self._k2 = _dbl(self._k1)
        # S2V accumulator after the AD: D = dbl(CMAC(0^16)) ^ CMAC(ad)
        d = _dbl(self._cmac_scalar(zero))
        d_ad = bytes(a ^ b for a, b in zip(d, self._cmac_scalar(ad)))
        # the S2V constants in dbps_siv_s2v_blocks order
        self._consts = np.frombuffer(
            d_ad + _dbl(d_ad) + self._k1 + self._k2, np.uint8
        )

    # -- scalar CMAC (setup constants only; data path is batched) ------
    def _cmac_scalar(self, msg: bytes) -> bytes:
        k1, k2 = self._k1, self._k2
        if len(msg) % _BS == 0 and msg:
            last = bytes(a ^ b for a, b in zip(msg[-_BS:], k1))
            body = msg[:-_BS]
        else:
            tail = msg[len(msg) // _BS * _BS :]
            last = bytes(a ^ b for a, b in zip(_pad(tail), k2))
            body = msg[: len(msg) // _BS * _BS]
        x = b"\x00" * _BS
        for i in range(0, len(body), _BS):
            x = self._mac.update(
                bytes(a ^ c for a, c in zip(x, body[i : i + _BS]))
            )
        return self._mac.update(bytes(a ^ c for a, c in zip(x, last)))

    def _run(
        self, flat: np.ndarray, offsets: np.ndarray, encrypt: bool, scalar: bool
    ) -> tuple[np.ndarray, np.ndarray]:
        # a body cap of -1 sends every non-empty element to the scalar call
        max_body = -1 if scalar else _MAX_BODY
        flat = np.ascontiguousarray(flat, dtype=np.uint8)
        offsets = np.ascontiguousarray(offsets, dtype=np.int64)
        skip = 0 if encrypt else _BS
        err, idx, longs, new_offsets, s2v_blocks, ctr_blocks = (
            _native.siv_plan(offsets, flat.size, skip, max_body)
        )
        if err == 1:
            raise DBPSInvalidInputError(_AUTH_FAIL)
        if err:
            raise DBPSInvalidInputError("element offsets do not fit the batch")
        out = np.empty(int(new_offsets[-1]), dtype=np.uint8)
        if idx.size:
            aes_into = self._mac.update_into
            if encrypt:
                ivs = _native.siv_s2v(
                    flat, offsets, idx, s2v_blocks, self._consts, aes_into
                )
            else:
                ivs = np.empty((idx.size, _BS), dtype=np.uint8)
            ctr = _native.siv_ctr_blocks(
                flat, offsets, idx, skip, ivs, ctr_blocks
            )
            # update_into wants one block minus a byte of slack
            ks = np.empty(ctr.size + _BS - 1, dtype=np.uint8)
            if ctr.size:
                self._ctr.update_into(ctr, ks)
            _native.siv_ctr_xor(
                flat, offsets, idx, skip, ivs, ks, out, new_offsets
            )
            # decrypt: the S2V of the recovered plaintext must equal the
            # transmitted IV (for a 16-byte ciphertext that is S2V of the
            # empty string, matching AESSIV.decrypt's acceptance of a
            # valid empty encryption and InvalidTag otherwise)
            if not encrypt and not np.array_equal(
                _native.siv_s2v(
                    out, new_offsets, idx, s2v_blocks, self._consts, aes_into
                ),
                ivs,
            ):
                raise DBPSInvalidInputError(_AUTH_FAIL)
        self._scalar_fill(flat, offsets, longs, out, new_offsets, encrypt)
        return out, new_offsets

    def _scalar_fill(
        self,
        flat: np.ndarray,
        offsets: np.ndarray,
        longs: np.ndarray,
        out: np.ndarray,
        new_offsets: np.ndarray,
        encrypt: bool,
    ) -> None:
        """One ``AESSIV`` call per element in ``longs``: those too long
        for the batch, or every non-empty one on the scalar route."""
        from cryptography.exceptions import InvalidTag

        call = self._aead.encrypt if encrypt else self._aead.decrypt
        ad = [self._ad]
        src, dst = memoryview(flat), memoryview(out)
        spans = zip(
            offsets[longs].tolist(),
            offsets[longs + 1].tolist(),
            new_offsets[longs].tolist(),
            new_offsets[longs + 1].tolist(),
        )
        try:
            for a, b, c, d in spans:
                dst[c:d] = call(src[a:b], ad)
        except InvalidTag:
            raise DBPSInvalidInputError(_AUTH_FAIL) from None

    # -- public batch API ----------------------------------------------
    def encrypt_batch(
        self, flat: np.ndarray, offsets: np.ndarray, scalar: bool = False
    ) -> tuple[np.ndarray, np.ndarray]:
        """Element-wise ``AESSIV.encrypt(P, [ad])``: each output element
        is ``V || CTR(P)`` (16-byte SIV prepended). Empty elements pass
        through empty (the engine's documented null/empty bypass).
        ``scalar`` makes one ``AESSIV`` call per element instead of the
        batched rounds (same bytes; cheaper for a few long elements)."""
        return self._run(flat, offsets, encrypt=True, scalar=scalar)

    def decrypt_batch(
        self, flat: np.ndarray, offsets: np.ndarray, scalar: bool = False
    ) -> tuple[np.ndarray, np.ndarray]:
        """Element-wise ``AESSIV.decrypt``; raises on any authentication
        failure (tampered ciphertext, wrong key or a non-empty element
        shorter than its IV), on either route."""
        return self._run(flat, offsets, encrypt=False, scalar=scalar)
