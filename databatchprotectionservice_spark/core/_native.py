"""The C helper behind the per-value hot loops.

Some loops cannot be fully vectorized in numpy, because each step
depends on the previous one (the parquet PLAIN ``[u32 len][bytes]``
walk), because the access pattern is per-element ragged (the
variable-width keystream XOR, the protect kernels' tag, untag, gather
and scatter passes), or because the layout needs per-byte index maps
(the batched AES-SIV blocks). The page service's strict base64 decode
lives here too. The reference runs such loops in C++
(``parquet_utils.cpp``, ``basic_xor_encryptor.cpp``,
``typed_buffer.h``); this module compiles a small C helper with the
system compiler at first import and binds it via ctypes. It only moves
bytes: AES stays in ``cryptography``.

Required, like the reference's own C++ build: importing this module
raises ``RuntimeError`` naming each compiler's failure when none of
``cc``, ``gcc`` and ``clang`` builds the helper. There is no slower
fallback. The .so is cached per source-hash in the temp dir, so
compilation happens once per machine, not per executor process.
"""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* Parse `count` back-to-back [u32le len][bytes] records.
   Returns 0 ok / 1 truncated length prefix / 2 truncated element /
   3 trailing bytes (prefix check per record; element overrun detected
   by the final cursor).
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
        /* early classify on overrun: a truncated length prefix when a
           LATER record's prefix lands past the end, a truncated element
           only when the overrun is the final record; bailing here also
           bounds pos/offsets against int64 overflow on adversarial
           counts */
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

/* Per-element XOR against a keystream that restarts at every element
   (ks must cover the longest element): dst = src ^ ks, element by
   element, at the same offsets. */
void dbps_xor_elements(const uint8_t* restrict src, uint8_t* restrict dst,
                       const int64_t* offsets, int64_t count,
                       const uint8_t* ks) {
    for (int64_t i = 0; i < count; i++) {
        const uint8_t* s = src + offsets[i];
        uint8_t* d = dst + offsets[i];
        int64_t len = offsets[i + 1] - offsets[i];
        for (int64_t j = 0; j < len; j++) d[j] = s[j] ^ ks[j];
    }
}

/* Strict base64 (RFC 4648 section 4): the length a multiple of 4, the
   standard alphabet only, '=' only as the last one or two characters.
   Returns the decoded length, or -1 for any other input and when the
   output would pass dst[cap]; it reads only src[0:n]. */
int64_t dbps_b64decode(const uint8_t* src, int64_t n, uint8_t* dst,
                       int64_t cap) {
    static const char abc[] =
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/";
    uint8_t val[256];
    memset(val, 0xFF, sizeof val);
    for (int k = 0; k < 64; k++) val[(uint8_t)abc[k]] = (uint8_t)k;
    if (n < 0 || n % 4) return -1;
    if (n == 0) return 0;
    int pad = src[n - 1] != '=' ? 0 : src[n - 2] != '=' ? 1 : 2;
    if (n / 4 * 3 - pad > cap) return -1;
    int64_t o = 0;
    for (int64_t i = 0; i < n; i += 4) {
        uint32_t a = val[src[i]], b = val[src[i + 1]];
        uint32_t c = val[src[i + 2]], d = val[src[i + 3]];
        int tail = i == n - 4 ? pad : 0;
        if (tail) d = 0;
        if (tail == 2) c = 0;
        if ((a | b | c | d) > 63) return -1;
        uint32_t v = a << 18 | b << 12 | c << 6 | d;
        dst[o++] = (uint8_t)(v >> 16);
        if (tail < 2) dst[o++] = (uint8_t)(v >> 8);
        if (!tail) dst[o++] = (uint8_t)v;
    }
    return o;
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

/* ---- protect-kernel layout -------------------------------------------
   Rows are an Arrow column: row i is data[off(i):off(i+1)], off being
   int32 (o32) or int64 (o64) offsets or, with both NULL, i * width (a
   fixed-width value buffer). `valid` is an Arrow validity bitmap whose
   bit 0 is row 0, or NULL when no row is null. A batch is what a cipher
   takes: the valid rows only, in row order, element k being
   flat[boff[k]:boff[k+1]]. Both passes check every offset before
   reading through it, and return -1 when offsets decrease or leave
   their buffer, -2 when the bitmap does not hold the m valid rows the
   caller counted. */

static int row_valid(const uint8_t* valid, int64_t i) {
    return !valid || (valid[i >> 3] >> (i & 7)) & 1;
}

static int64_t row_off(const int32_t* o32, const int64_t* o64, int64_t width,
                       int64_t i) {
    return o64 ? o64[i] : o32 ? (int64_t)o32[i] : i * width;
}

static int rows_fit(const int32_t* o32, const int64_t* o64, int64_t width,
                    int64_t n, int64_t size) {
    int64_t a = row_off(o32, o64, width, 0);
    if (a < 0) return 0;
    for (int64_t i = 1; i <= n; i++) {
        int64_t b = row_off(o32, o64, width, i);
        if (b < a) return 0;
        a = b;
    }
    return a <= size;
}

/* memcpy for cells written back to back in order: a short one moves as
   two 16-byte words when both buffers have room past it (the next cell
   overwrites the surplus) instead of a library call. */
static void copy_cell(uint8_t* d, int64_t d_room, const uint8_t* s,
                      int64_t s_room, int64_t len) {
    if (len <= 32 && d_room >= 32 && s_room >= 32) {
        memcpy(d, s, 16);
        memcpy(d + 16, s + 16, 16);
    } else {
        memcpy(d, s, (size_t)len);
    }
}

/* Rows -> batch. tag < 0 takes each valid row whole (protect's gather);
   tag >= 0 takes the payload after a one-byte tag (unprotect's untag).
   A row shorter than the tag (1) or carrying another tag (2) ends the
   pass with its reason, unless ok is non-NULL: then ok[i] = 1 marks the
   valid, well-tagged rows and the batch holds only those. With dst NULL
   only boff is written; dst holds cap bytes. info = {elements, their
   common width or -1, first bad row or -1, the tag it carries, bytes the
   null rows hold}. */
int dbps_gather(const uint8_t* restrict data, int64_t size,
                const int32_t* o32, const int64_t* o64, int64_t width,
                int64_t n, const uint8_t* valid, int64_t m, int tag,
                uint8_t* ok, uint8_t* restrict dst, int64_t cap,
                int64_t* restrict boff, int64_t* restrict info) {
    if (!rows_fit(o32, o64, width, n, size)) return -1;
    int64_t k = 0, seen = 0, pos = 0, spill = 0, common = -1;
    int64_t skip = tag >= 0;
    int mixed = 0;
    boff[0] = 0;
    info[2] = -1;
    for (int64_t i = 0; i < n; i++) {
        int64_t a = row_off(o32, o64, width, i);
        int64_t len = row_off(o32, o64, width, i + 1) - a;
        if (!row_valid(valid, i)) {
            if (ok) ok[i] = 0;
            spill += len;
            continue;
        }
        if (seen++ == m) return -2;
        int reason = !skip ? 0 : len < 1 ? 1 : data[a] != tag ? 2 : 0;
        if (reason) {
            if (info[2] < 0) {
                info[2] = i;
                info[3] = len ? data[a] : -1;
            }
            if (!ok) return reason;
            ok[i] = 0;
            continue;
        }
        if (ok) ok[i] = 1;
        len -= skip;
        if (dst) {
            if (pos + len > cap) return -1;
            copy_cell(dst + pos, cap - pos, data + a + skip, size - a - skip,
                      len);
        }
        pos += len;
        boff[++k] = pos;
        mixed |= k > 1 && len != common;
        common = len;
    }
    info[0] = k;
    info[1] = mixed ? -1 : common;
    info[4] = spill;
    return seen == m ? 0 : -2;
}

/* Batch -> rows. tag >= 0: row i is [tag][element k] for the k-th valid
   row and zero-length for a null row (protect's cells; out holds
   boff[m] - boff[0] + m bytes, out_off n+1 offsets). tag < 0, width > 0:
   every element must be width bytes (else 1); row i's value goes to
   out + i*width, zeros for a null row (unprotect's values; with out NULL
   only the widths are checked). tag < 0, width 0: out_off alone, rows
   pointing into flat. */
int dbps_scatter(const uint8_t* restrict flat, int64_t size,
                 const int64_t* restrict boff, int64_t m, int tag,
                 int64_t width, int64_t n, const uint8_t* valid,
                 uint8_t* restrict out, int64_t* restrict out_off) {
    if (!rows_fit(0, boff, 0, m, size)) return -1;
    int64_t k, pos = 0, cap = tag >= 0 ? boff[m] - boff[0] + m : n * width;
    for (k = 0; tag < 0 && width && k < m; k++)
        if (boff[k + 1] - boff[k] != width) return 1;
    if (tag < 0) pos = boff[0];
    if (out_off) out_off[0] = pos;
    k = 0;
    for (int64_t i = 0; i < n; i++) {
        int v = row_valid(valid, i);
        if (v && k == m) return -2;
        int64_t a = boff[k], len = v ? boff[k + 1] - a : 0;
        if (tag >= 0) {
            if (v) {
                out[pos] = (uint8_t)tag;
                copy_cell(out + pos + 1, cap - pos - 1, flat + a, size - a, len);
                pos += 1 + len;
            }
            out_off[i + 1] = pos;
        } else if (!width) {
            pos += len;
            out_off[i + 1] = pos;
        } else if (out && v) {
            copy_cell(out + i * width, cap - i * width, flat + a, size - a, width);
        } else if (out) {
            memset(out + i * width, 0, (size_t)width);
        }
        k += v;
    }
    return k == m ? 0 : -2;
}
"""

_U8P = ctypes.POINTER(ctypes.c_uint8)
_I32P = ctypes.POINTER(ctypes.c_int32)
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
        "dbps_xor_elements": (
            None, [_U8P, _U8P, _I64P, ctypes.c_int64, _U8P]
        ),
        "dbps_b64decode": (
            ctypes.c_int64,
            [ctypes.c_char_p, ctypes.c_int64, _U8P, ctypes.c_int64],
        ),
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
        "dbps_gather": (
            ctypes.c_int,
            [_U8P, ctypes.c_int64, _I32P, _I64P, ctypes.c_int64,
             ctypes.c_int64, _U8P, ctypes.c_int64, ctypes.c_int, _U8P, _U8P,
             ctypes.c_int64, _I64P, _I64P],
        ),
        "dbps_scatter": (
            ctypes.c_int,
            [_U8P, ctypes.c_int64, _I64P, ctypes.c_int64, ctypes.c_int,
             ctypes.c_int64, ctypes.c_int64, _U8P, _U8P, _I64P],
        ),
    }
    for name, (restype, argtypes) in sigs.items():
        fn = getattr(lib, name)
        fn.restype, fn.argtypes = restype, argtypes
    return lib


#: the compiled helper; importing this module fails without it
LIB = _bind(ctypes.CDLL(_build()))


def _u8(a: np.ndarray | None) -> _U8P | None:
    return None if a is None else a.ctypes.data_as(_U8P)


def _i64(a: np.ndarray | None) -> _I64P | None:
    return None if a is None else a.ctypes.data_as(_I64P)


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
    """A new array: each element of ``flat`` XORed with ``ks`` from its
    first byte, bytes outside the elements copied as they are."""
    flat = np.ascontiguousarray(flat, dtype=np.uint8)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    out = np.empty_like(flat)
    first, last = int(offsets[0]), int(offsets[-1])
    out[:first], out[last:] = flat[:first], flat[last:]
    LIB.dbps_xor_elements(
        _u8(flat), _u8(out), _i64(offsets), len(offsets) - 1, _u8(ks)
    )
    return out


def b64decode(text: bytes) -> bytes | None:
    """Strict base64 decode (see dbps_b64decode); None when ``text`` is
    not canonical RFC 4648 section 4 base64."""
    out = np.empty(len(text) // 4 * 3, dtype=np.uint8)
    n = LIB.dbps_b64decode(text, len(text), _u8(out), out.size)
    return None if n < 0 else out[:n].tobytes()


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


def _short(valid: np.ndarray | None, n: int) -> bool:
    """Whether a validity bitmap has fewer than n bits."""
    return valid is not None and valid.size * 8 < n


def gather(
    data: np.ndarray, n: int, valid, m: int, offsets=None, width=0, tag=-1, ok=None
) -> tuple[int, np.ndarray, np.ndarray, list[int]]:
    """(err, flat, batch offsets, info) of the m valid rows of ``data``
    (see dbps_gather): row i is ``data[offsets[i]:offsets[i+1]]`` or,
    without offsets, ``width`` bytes."""
    if _short(valid, n) or offsets is not None and len(offsets) != n + 1:
        return -1, data[:0], np.zeros(1, np.int64), [0, -1, -1, 0, 0]
    o32 = o64 = None
    start, size = 0, n * width
    if offsets is not None:
        start, size = int(offsets[0]), int(offsets[-1]) - int(offsets[0])
        if offsets.dtype == np.int32:
            o32 = offsets.ctypes.data_as(_I32P)
        else:
            o64 = _i64(offsets)
    boff = np.empty(m + 1, dtype=np.int64)
    info = np.zeros(5, dtype=np.int64)
    args = (_u8(data), data.size, o32, o64, width, n, _u8(valid), m, tag, _u8(ok))
    if tag < 0 and (valid is None or offsets is not None):
        # whole rows: a view of data unless null rows hold bytes
        err = LIB.dbps_gather(*args, None, 0, _i64(boff), _i64(info))
        if err:
            return err, data[:0], boff[:1], info.tolist()
        size = int(boff[m])
        if not info[4]:
            return 0, data[start : start + size], boff, info.tolist()
    elif tag < 0:
        size = m * width
    dst = np.empty(max(size, 0), dtype=np.uint8)
    err = LIB.dbps_gather(*args, _u8(dst), dst.size, _i64(boff), _i64(info))
    if err:
        return err, dst[:0], boff[:1], info.tolist()
    k = int(info[0])
    return 0, dst[: int(boff[k])], boff[: k + 1], info.tolist()


def scatter(
    flat: np.ndarray, boff: np.ndarray, n: int, valid, tag=-1, width=0
) -> tuple[int, np.ndarray, np.ndarray | None]:
    """(err, row bytes, row offsets) of a batch spread over n rows (see
    dbps_scatter): tagged cells, or dense ``width``-byte values (``flat``
    itself without nulls), or offsets into ``flat``."""
    flat = np.ascontiguousarray(flat, dtype=np.uint8)
    boff = np.ascontiguousarray(boff, dtype=np.int64)
    m = len(boff) - 1
    if _short(valid, n):
        return -1, flat[:0], None
    out = out_off = None
    if tag >= 0:
        out = np.empty(max(int(boff[m] - boff[0]), 0) + m, dtype=np.uint8)
    elif width and valid is not None:
        out = np.empty(n * width, dtype=np.uint8)
    if tag >= 0 or not width:
        out_off = np.empty(n + 1, dtype=np.int64)
    err = LIB.dbps_scatter(
        _u8(flat), flat.size, _i64(boff), m, tag, width, n, _u8(valid),
        _u8(out), _i64(out_off),
    )
    return err, flat if out is None else out, out_off
