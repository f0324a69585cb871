"""Optional C fast path for the per-value hot loops.

Some loops cannot be fully vectorized in numpy, because each step
depends on the previous one (the parquet PLAIN ``[u32 len][bytes]``
walk), because the access pattern is per-element ragged (the
variable-width keystream XOR), or because the numpy form needs
per-byte index maps (the batched AES-SIV block layout). The reference
runs such loops at C speed (``parquet_utils.cpp``,
``basic_xor_encryptor.cpp``); this module closes that gap by compiling
a small C helper with the system compiler at first import and binding
it via ctypes. It only moves bytes: AES stays in ``cryptography``.

Strictly optional: if no compiler exists (or ``DBPS_NATIVE=0``), ``LIB``
is ``None``, ``UNAVAILABLE`` says why, and callers keep their pure-numpy
paths — same results, verified by the same tests. A failed build warns
once per process; ``DBPS_NATIVE=0`` stays quiet. The .so is cached per
source-hash in the temp dir, so compilation happens once per machine,
not per executor process.
"""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import os
import subprocess
import tempfile
import warnings

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* Parse `count` back-to-back [u32le len][bytes] records.
   Returns 0 ok / 1 truncated length prefix / 2 truncated element /
   3 trailing bytes — mirroring the numpy implementation's error order
   (prefix check per record; element overrun detected by final cursor).
   On success fills `flat` (size-4*count bytes) and `offsets` (count+1). */
int dbps_parse_plain(const uint8_t* src, int64_t size, int64_t count,
                     uint8_t* flat, int64_t* offsets) {
    int64_t pos = 0;
    offsets[0] = 0;
    for (int64_t i = 0; i < count; i++) {
        if (pos + 4 > size) return 1;
        uint32_t n;
        memcpy(&n, src + pos, 4);
        pos += 4 + (int64_t)n;
        offsets[i + 1] = offsets[i] + (int64_t)n;
        /* early classify on overrun: the numpy walk reports a truncated
           length prefix when a LATER record's prefix lands past the end,
           and a truncated element only when the overrun is the final
           record; bailing here also bounds pos/offsets against int64
           overflow on adversarial counts */
        if (pos > size) return (i == count - 1) ? 2 : 1;
    }
    if (pos < size) return 3;
    for (int64_t i = 0; i < count; i++) {
        memcpy(flat + offsets[i], src + offsets[i] + 4 * (i + 1),
               (size_t)(offsets[i + 1] - offsets[i]));
    }
    return 0;
}

/* Serialize to the same layout: dst must hold 4*count + flat bytes. */
void dbps_write_interleaved(const uint8_t* flat, const int64_t* offsets,
                            int64_t count, uint8_t* dst) {
    int64_t pos = 0;
    for (int64_t i = 0; i < count; i++) {
        uint32_t n = (uint32_t)(offsets[i + 1] - offsets[i]);
        memcpy(dst + pos, &n, 4);
        pos += 4;
        memcpy(dst + pos, flat + offsets[i], (size_t)n);
        pos += n;
    }
}

/* In-place per-element XOR against a keystream that restarts at every
   element (ks must cover the longest element). */
void dbps_xor_elements(uint8_t* data, const int64_t* offsets, int64_t count,
                       const uint8_t* ks) {
    for (int64_t i = 0; i < count; i++) {
        uint8_t* p = data + offsets[i];
        int64_t len = offsets[i + 1] - offsets[i];
        for (int64_t j = 0; j < len; j++) p[j] ^= ks[j];
    }
}

/* Undo PNG scanline filtering (spec filters 0-4) for a whole image.
   raw: h rows of [filter byte][stride bytes]; out: h*stride recon.
   The row above row 0 is all zeros, per spec. Returns 0 ok / 1 on an
   unknown filter type (mirrors the numpy path's error). */
int dbps_png_unfilter(const uint8_t* raw, int64_t h, int64_t stride,
                      int64_t bpp, uint8_t* out) {
    for (int64_t y = 0; y < h; y++) {
        const uint8_t* src = raw + y * (stride + 1) + 1;
        uint8_t f = raw[y * (stride + 1)];
        uint8_t* rec = out + y * stride;
        const uint8_t* prev = y ? out + (y - 1) * stride : 0;
        int64_t x;
        switch (f) {
        case 0:
            memcpy(rec, src, (size_t)stride);
            break;
        case 1:
            for (x = 0; x < stride; x++)
                rec[x] = (uint8_t)(src[x] + (x >= bpp ? rec[x - bpp] : 0));
            break;
        case 2:
            for (x = 0; x < stride; x++)
                rec[x] = (uint8_t)(src[x] + (prev ? prev[x] : 0));
            break;
        case 3:
            for (x = 0; x < stride; x++) {
                int a = x >= bpp ? rec[x - bpp] : 0;
                int b = prev ? prev[x] : 0;
                rec[x] = (uint8_t)(src[x] + ((a + b) >> 1));
            }
            break;
        case 4:
            for (x = 0; x < stride; x++) {
                int a = x >= bpp ? rec[x - bpp] : 0;
                int b = prev ? prev[x] : 0;
                int c = (prev && x >= bpp) ? prev[x - bpp] : 0;
                int p = a + b - c;
                int pa = p > a ? p - a : a - p;
                int pb = p > b ? p - b : b - p;
                int pc = p > c ? p - c : c - p;
                int pred = (pa <= pb && pa <= pc) ? a : (pb <= pc ? b : c);
                rec[x] = (uint8_t)(src[x] + pred);
            }
            break;
        default:
            return 1;
        }
    }
    return 0;
}

/* ---- batched AES-SIV layout (RFC 5297) -------------------------------
   AES itself stays with the caller (one ECB call per CBC round, one for
   CTR); these routines only move bytes. Element i is
   src[offsets[i]:offsets[i+1]]; `skip` is 0 when elements are plaintexts
   (encrypt) and 16 when they are [IV][body] ciphertexts (decrypt). Only
   the batched elements, listed in idx, are touched. */

static void siv_xor16(uint8_t* dst, const uint8_t* a, const uint8_t* b) {
    for (int t = 0; t < 16; t++) dst[t] = a[t] ^ b[t];
}

#if defined(__BYTE_ORDER__) && __BYTE_ORDER__ == __ORDER_BIG_ENDIAN__
#define SIV_BE64(v) (v)
#else
#define SIV_BE64(v) __builtin_bswap64(v)
#endif

static uint64_t siv_be64(const uint8_t* p) {
    uint64_t v;
    memcpy(&v, p, 8);
    return SIV_BE64(v);
}

static void siv_put_be64(uint8_t* p, uint64_t v) {
    v = SIV_BE64(v);
    memcpy(p, &v, 8);
}

/* Sorts elements into the batch (non-empty, body of at most max_body
   bytes: idx) and the rest that take the scalar call (longs), and writes
   the output offsets (IV added on encrypt, removed on decrypt; empty
   elements stay empty). totals = {batched, long, S2V blocks, CTR blocks}.
   Returns 0 ok / 1 when a ciphertext is shorter than its IV / 2 when
   the offsets decrease or leave the size-byte source buffer. */
int dbps_siv_plan(const int64_t* offsets, int64_t n, int64_t size,
                  int64_t skip, int64_t max_body, int64_t* idx,
                  int64_t* longs, int64_t* out_offsets, int64_t* totals) {
    int64_t m = 0, nl = 0, s2v = 0, ctr = 0;
    if (offsets[0] < 0 || offsets[n] > size) return 2;
    out_offsets[0] = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t len = offsets[i + 1] - offsets[i];
        if (len < 0) return 2;
        if (len == 0) {
            out_offsets[i + 1] = out_offsets[i];
            continue;
        }
        if (len < skip) return 1;
        int64_t body = len - skip;
        out_offsets[i + 1] = out_offsets[i] + (skip ? body : len + 16);
        if (body > max_body) {
            longs[nl++] = i;
            continue;
        }
        idx[m++] = i;
        int64_t nb = (body + 15) / 16;
        s2v += nb ? nb : 1;
        ctr += nb;
    }
    totals[0] = m;
    totals[1] = nl;
    totals[2] = s2v;
    totals[3] = ctr;
    return 0;
}

/* S2V input blocks with the CMAC finalization applied, element k at
   blocks[16*bstarts[k]:16*bstarts[k+1]]. consts = D_ad || dbl(D_ad) ||
   K1 || K2, where D_ad is the S2V accumulator after the associated data.
   Under 16 bytes: T = dbl(D_ad) ^ pad(P), one complete block (^K1).
   Otherwise T = P xorend D_ad; a complete last block takes K1, a partial
   one 10* padding and K2. */
void dbps_siv_s2v_blocks(const uint8_t* src, const int64_t* offsets,
                         const int64_t* idx, int64_t m,
                         const uint8_t* consts, uint8_t* blocks,
                         int64_t* bstarts) {
    const uint8_t *d_ad = consts, *d_ad_dbl = consts + 16;
    const uint8_t *k1 = consts + 32, *k2 = consts + 48;
    int64_t b = 0;
    for (int64_t k = 0; k < m; k++) {
        int64_t i = idx[k];
        const uint8_t* p = src + offsets[i];
        int64_t len = offsets[i + 1] - offsets[i];
        uint8_t* blk = blocks + 16 * b;
        bstarts[k] = b;
        if (len < 16) {
            memcpy(blk, p, (size_t)len);
            blk[len] = 0x80;
            memset(blk + len + 1, 0, (size_t)(15 - len));
            siv_xor16(blk, blk, d_ad_dbl);
            siv_xor16(blk, blk, k1);
            b += 1;
            continue;
        }
        int64_t nb = (len + 15) / 16;
        memcpy(blk, p, (size_t)len);
        siv_xor16(blk + len - 16, blk + len - 16, d_ad);
        uint8_t* last = blk + 16 * (nb - 1);
        int64_t r = len - 16 * (nb - 1);
        if (r == 16) {
            siv_xor16(last, last, k1);
        } else {
            last[r] = 0x80;
            memset(last + r + 1, 0, (size_t)(15 - r));
            siv_xor16(last, last, k2);
        }
        b += nb;
    }
    bstarts[m] = b;
}

/* One CBC-MAC round over the live chains act[0:live]. enc holds the AES
   output of round j's inputs in act order (NULL before round 0: the
   all-zero start state). A chain without a block j+1 stores its MAC in
   macs[k]; the others move to the front of act with round j+1's input
   (state ^ block) in inp. Returns the new live count. */
int64_t dbps_siv_cbc_round(const uint8_t* enc, int64_t* act, int64_t live,
                           int64_t j, const int64_t* bstarts,
                           const uint8_t* blocks, uint8_t* inp,
                           uint8_t* macs) {
    static const uint8_t zero[16];
    int64_t kept = 0;
    for (int64_t a = 0; a < live; a++) {
        int64_t k = act[a];
        const uint8_t* x = enc ? enc + 16 * a : zero;
        int64_t next = bstarts[k] + j + 1;
        if (next >= bstarts[k + 1]) {
            memcpy(macs + 16 * k, x, 16);
            continue;
        }
        siv_xor16(inp + 16 * kept, x, blocks + 16 * next);
        act[kept++] = k;
    }
    return kept;
}

/* CTR counter blocks: block t of element k's body is Q_k + t mod 2^128,
   Q_k its IV with bits 63 and 31 cleared (RFC 5297 2.5). The cleared
   bit 63 tops the low word, so adding t never carries into the high
   word. Encrypt reads the IVs from ivs; decrypt first copies each
   ciphertext's IV there. */
void dbps_siv_ctr_blocks(const uint8_t* src, const int64_t* offsets,
                         const int64_t* idx, int64_t m, int64_t skip,
                         uint8_t* ivs, uint8_t* ctr) {
    for (int64_t k = 0; k < m; k++) {
        int64_t i = idx[k];
        uint8_t* iv = ivs + 16 * k;
        if (skip) memcpy(iv, src + offsets[i], 16);
        uint8_t q[16];
        memcpy(q, iv, 16);
        q[8] &= 0x7F;
        q[12] &= 0x7F;
        uint64_t hi = siv_be64(q), lo = siv_be64(q + 8);
        int64_t nb = (offsets[i + 1] - offsets[i] - skip + 15) / 16;
        for (int64_t t = 0; t < nb; t++) {
            siv_put_be64(ctr, hi);
            siv_put_be64(ctr + 8, lo + (uint64_t)t);
            ctr += 16;
        }
    }
}

/* Writes each batched element to dst at dst_offsets: IV || body ^ ks on
   encrypt, body ^ ks on decrypt (the body follows the IV there). ks holds
   the keystream blocks in dbps_siv_ctr_blocks order. */
void dbps_siv_ctr_xor(const uint8_t* src, const int64_t* offsets,
                      const int64_t* idx, int64_t m, int64_t skip,
                      const uint8_t* ivs, const uint8_t* ks, uint8_t* dst,
                      const int64_t* dst_offsets) {
    for (int64_t k = 0; k < m; k++) {
        int64_t i = idx[k];
        const uint8_t* p = src + offsets[i] + skip;
        int64_t body = offsets[i + 1] - offsets[i] - skip;
        uint8_t* d = dst + dst_offsets[i];
        if (!skip) {
            memcpy(d, ivs + 16 * k, 16);
            d += 16;
        }
        for (int64_t t = 0; t < body; t++) d[t] = p[t] ^ ks[t];
        ks += 16 * ((body + 15) / 16);
    }
}
"""

_U8P = ctypes.POINTER(ctypes.c_uint8)
_I64P = ctypes.POINTER(ctypes.c_int64)


def _build() -> str:
    """Path of the compiled helper, compiling it on first use. Raises
    RuntimeError naming each compiler's failure, OSError when the cache
    directory is unusable."""
    tag = hashlib.sha256(_C_SOURCE.encode()).hexdigest()[:16]
    cache_dir = os.path.join(tempfile.gettempdir(), "dbps_native")
    so_path = os.path.join(cache_dir, f"dbps_native_{tag}.so")
    if os.path.exists(so_path):
        return so_path
    os.makedirs(cache_dir, exist_ok=True)
    # per-process names for both the source and the output: Spark starts
    # several workers at once, and a shared source file could be
    # truncated by one writer while another's compiler reads it
    src_path = os.path.join(cache_dir, f"dbps_native_{tag}.{os.getpid()}.c")
    tmp_so = so_path + f".{os.getpid()}"
    with open(src_path, "w") as f:
        f.write(_C_SOURCE)
    failures = []
    try:
        for cc in ("cc", "gcc", "clang"):
            try:
                subprocess.run(
                    [cc, "-O3", "-march=native", "-shared", "-fPIC",
                     "-o", tmp_so, src_path],
                    check=True,
                    capture_output=True,
                    timeout=60,
                )
            except subprocess.CalledProcessError as e:
                err = e.stderr.decode(errors="replace").strip()
                failures.append(f"{cc}: {err[-200:] or e}")
            except (OSError, subprocess.SubprocessError) as e:
                failures.append(f"{cc}: {e}")
            else:
                os.replace(tmp_so, so_path)  # atomic for racing workers
                return so_path
    finally:
        with contextlib.suppress(OSError):
            os.remove(src_path)
    raise RuntimeError(
        "no C compiler built the helper (" + "; ".join(failures) + ")"
    )


def _bind(lib: ctypes.CDLL) -> ctypes.CDLL:
    sigs = {
        "dbps_parse_plain": (
            ctypes.c_int,
            [_U8P, ctypes.c_int64, ctypes.c_int64, _U8P, _I64P],
        ),
        "dbps_write_interleaved": (None, [_U8P, _I64P, ctypes.c_int64, _U8P]),
        "dbps_xor_elements": (None, [_U8P, _I64P, ctypes.c_int64, _U8P]),
        "dbps_png_unfilter": (
            ctypes.c_int,
            [_U8P, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64, _U8P],
        ),
        "dbps_siv_plan": (
            ctypes.c_int,
            [_I64P, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
             ctypes.c_int64, _I64P, _I64P, _I64P, _I64P],
        ),
        "dbps_siv_s2v_blocks": (
            None,
            [_U8P, _I64P, _I64P, ctypes.c_int64, _U8P, _U8P, _I64P],
        ),
        "dbps_siv_cbc_round": (
            ctypes.c_int64,
            [_U8P, _I64P, ctypes.c_int64, ctypes.c_int64, _I64P, _U8P,
             _U8P, _U8P],
        ),
        "dbps_siv_ctr_blocks": (
            None,
            [_U8P, _I64P, _I64P, ctypes.c_int64, ctypes.c_int64, _U8P, _U8P],
        ),
        "dbps_siv_ctr_xor": (
            None,
            [_U8P, _I64P, _I64P, ctypes.c_int64, ctypes.c_int64, _U8P,
             _U8P, _U8P, _I64P],
        ),
    }
    for name, (restype, argtypes) in sigs.items():
        fn = getattr(lib, name)
        fn.restype, fn.argtypes = restype, argtypes
    return lib


def _load() -> tuple[ctypes.CDLL | None, str | None]:
    """(library, why it is missing). ``DBPS_NATIVE=0`` switches the
    helper off quietly; any other failure warns once, because every
    caller then runs its slower numpy path."""
    if os.environ.get("DBPS_NATIVE", "1") == "0":
        return None, "switched off by DBPS_NATIVE=0"
    try:
        return _bind(ctypes.CDLL(_build())), None
    except (OSError, RuntimeError) as e:
        reason = f"{type(e).__name__}: {e}"
        warnings.warn(
            f"dbps native helper unavailable, using the numpy paths: {reason}",
            RuntimeWarning,
            stacklevel=2,
        )
        return None, reason


#: the compiled helper, or None when unavailable (then UNAVAILABLE says why)
LIB, UNAVAILABLE = _load()


def _u8(a: np.ndarray) -> _U8P:
    return a.ctypes.data_as(_U8P)


def _i64(a: np.ndarray) -> _I64P:
    return a.ctypes.data_as(_I64P)


def parse_plain(
    buf: np.ndarray, count: int
) -> tuple[int, np.ndarray, np.ndarray]:
    """Returns (err_code, flat, offsets); err_code as documented in C."""
    buf = np.ascontiguousarray(buf)
    # on any error the C scan returns before its copy pass, so a
    # too-small (even empty) flat buffer is never written
    flat = np.empty(max(buf.size - 4 * count, 0), dtype=np.uint8)
    offsets = np.empty(count + 1, dtype=np.int64)
    err = LIB.dbps_parse_plain(
        _u8(buf), buf.size, count, _u8(flat), _i64(offsets)
    )
    return err, flat, offsets


def write_interleaved(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    flat = np.ascontiguousarray(flat)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    count = len(offsets) - 1
    out = np.empty(4 * count + flat.size, dtype=np.uint8)
    LIB.dbps_write_interleaved(_u8(flat), _i64(offsets), count, _u8(out))
    return out


def xor_elements(
    flat: np.ndarray, offsets: np.ndarray, ks: np.ndarray
) -> np.ndarray:
    out = np.array(flat, dtype=np.uint8, copy=True)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    LIB.dbps_xor_elements(_u8(out), _i64(offsets), len(offsets) - 1, _u8(ks))
    return out


def png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Whole-image PNG unfilter at C speed; returns the (h, stride)
    reconstruction. Raises ValueError on an unknown filter type so the
    caller maps it to its own error class."""
    raw = np.ascontiguousarray(raw, dtype=np.uint8)
    out = np.empty((h, stride), dtype=np.uint8)
    err = LIB.dbps_png_unfilter(_u8(raw), h, stride, bpp, _u8(out))
    if err:
        raise ValueError("bad PNG filter type")
    return out


def siv_plan(
    offsets: np.ndarray, size: int, skip: int, max_body: int
) -> tuple[int, np.ndarray, np.ndarray, np.ndarray, int, int]:
    """Split an AES-SIV batch over a ``size``-byte buffer: returns
    (err_code as documented in C, batched element indices, long element
    indices, output offsets, S2V block count, CTR block count)."""
    n = len(offsets) - 1
    idx = np.empty(n, dtype=np.int64)
    longs = np.empty(n, dtype=np.int64)
    out_offsets = np.empty(n + 1, dtype=np.int64)
    totals = np.zeros(4, dtype=np.int64)
    err = LIB.dbps_siv_plan(
        _i64(offsets), n, size, skip, max_body, _i64(idx), _i64(longs),
        _i64(out_offsets), _i64(totals),
    )
    m, n_long, s2v_blocks, ctr_blocks = totals.tolist()
    return err, idx[:m], longs[:n_long], out_offsets, s2v_blocks, ctr_blocks


def siv_s2v(
    src: np.ndarray,
    offsets: np.ndarray,
    idx: np.ndarray,
    n_blocks: int,
    consts: np.ndarray,
    aes_into,
) -> np.ndarray:
    """S2V of the elements in ``idx`` as an (m, 16) array; ``aes_into``
    is an ECB context's ``update_into``, called once per CBC round."""
    src = np.ascontiguousarray(src, dtype=np.uint8)
    m = idx.size
    blocks = np.empty(n_blocks * 16, dtype=np.uint8)
    bstarts = np.empty(m + 1, dtype=np.int64)
    LIB.dbps_siv_s2v_blocks(
        _u8(src), _i64(offsets), _i64(idx), m, _u8(consts), _u8(blocks),
        _i64(bstarts),
    )
    act = np.arange(m, dtype=np.int64)
    inp = np.empty(m * 16, dtype=np.uint8)
    enc = np.empty(m * 16 + 15, dtype=np.uint8)  # update_into's slack
    macs = np.empty((m, 16), dtype=np.uint8)
    ptrs = (_i64(bstarts), _u8(blocks), _u8(inp), _u8(macs))
    live = LIB.dbps_siv_cbc_round(None, _i64(act), m, -1, *ptrs)
    p_enc, p_act = _u8(enc), _i64(act)
    j = 0
    while live:
        aes_into(inp[: 16 * live], enc)
        live = LIB.dbps_siv_cbc_round(p_enc, p_act, live, j, *ptrs)
        j += 1
    return macs


def siv_ctr_blocks(
    src: np.ndarray,
    offsets: np.ndarray,
    idx: np.ndarray,
    skip: int,
    ivs: np.ndarray,
    n_blocks: int,
) -> np.ndarray:
    """CTR counter blocks of the batched bodies (see dbps_siv_ctr_blocks);
    with ``skip`` 16 also fills ``ivs`` from the ciphertexts."""
    ctr = np.empty(n_blocks * 16, dtype=np.uint8)
    LIB.dbps_siv_ctr_blocks(
        _u8(src), _i64(offsets), _i64(idx), idx.size, skip, _u8(ivs),
        _u8(ctr),
    )
    return ctr


def siv_ctr_xor(
    src: np.ndarray,
    offsets: np.ndarray,
    idx: np.ndarray,
    skip: int,
    ivs: np.ndarray,
    ks: np.ndarray,
    dst: np.ndarray,
    dst_offsets: np.ndarray,
) -> None:
    """Write the batched elements' output into ``dst`` (see
    dbps_siv_ctr_xor)."""
    LIB.dbps_siv_ctr_xor(
        _u8(src), _i64(offsets), _i64(idx), idx.size, skip, _u8(ivs),
        _u8(ks), _u8(dst), _i64(dst_offsets),
    )
