"""Dependency-free audio codecs: RIFF/WAVE PCM and IMA ADPCM.

The audio leg of the multimodal surface (SURVEY §7 phase 3 "multimodal
columns"): WAV is a fully specified public container decodable with the
stdlib + numpy — a chunked RIFF file whose ``fmt `` chunk declares PCM
layout and whose ``data`` chunk carries little-endian interleaved
samples. The decoder walks chunks properly (tolerating unknown chunks
like ``LIST``/``fact``), validates the PCM/16-bit contract, and returns
the samples as an ``(n_frames, channels) int16`` ndarray — integer
samples, so every downstream statistic (peak, energy) is EXACT and
oracle-checkable with no float tolerance.

Compressed audio has a REAL decode path for IMA (DVI) ADPCM — WAVE
format tag 0x11, a pure integer state machine (89-entry step table)
with block predictors, ``fact``-chunk tail trimming, and a fixture
encoder.  Perceptual codecs (MP3/AAC/OGG) still raise at the dispatch
seam — a pydub/ffmpeg drop-in changes one function.

The encoder exists for fixture construction and is round-trip tested;
it is not a Spark sink.
"""

from __future__ import annotations

import struct

import numpy as np


class AudioFormatError(ValueError):
    """Raised for malformed or unsupported audio bytes."""


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """(n,) or (n, channels) int16 -> RIFF/WAVE PCM bytes."""
    if samples.dtype != np.int16:
        raise AudioFormatError("encode_wav expects int16 samples")
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    payload = samples.astype("<i2").tobytes()
    block_align = ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, ch, rate, rate * block_align, block_align, 16
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(payload))
        + payload
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """WAV bytes -> (rate, channels, samples) with samples an
    ``(n_frames, channels) int16`` ndarray."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise AudioFormatError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    payload = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) != length:
            raise AudioFormatError(f"truncated WAV chunk {tag!r}")
        if tag == b"fmt ":
            if length < 16:
                raise AudioFormatError("fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", chunk[:16])
        elif tag == b"data":
            payload = chunk
            break  # data is the last chunk we need
        # unknown chunks (LIST, fact, ...) are skipped; chunks are
        # word-aligned — a chunk of odd length carries one pad byte
        pos += 8 + length + (length & 1)
    if fmt is None:
        raise AudioFormatError("WAV missing fmt chunk")
    if payload is None:
        raise AudioFormatError("WAV missing data chunk")
    audio_format, channels, rate, _byte_rate, block_align, bits = fmt
    if audio_format in (WAVE_FORMAT_ALAW, WAVE_FORMAT_MULAW):
        # G.711 log-PCM: one byte per sample, expanded through the
        # ITU-T formula LUT to the conventional 16-bit linear range
        if bits != 8:
            raise AudioFormatError(
                f"G.711 WAV bit depth {bits} (G.711 is 8-bit)"
            )
        if channels < 1 or block_align != channels:
            raise AudioFormatError(
                f"inconsistent G.711 WAV layout: channels={channels} "
                f"block_align={block_align}"
            )
        if len(payload) % block_align:
            raise AudioFormatError("WAV data not a whole number of frames")
        lut = (
            _alaw_decode_table()
            if audio_format == WAVE_FORMAT_ALAW
            else _ulaw_decode_table()
        )
        codes = np.frombuffer(payload, dtype=np.uint8)
        return rate, channels, lut[codes].reshape(-1, channels)
    if audio_format != 1:
        raise AudioFormatError(
            f"unsupported WAV format tag {audio_format} (decode_wav "
            "handles PCM=1, A-law=6, mu-law=7; IMA ADPCM=0x11 has its "
            "own entry point decode_wav_adpcm; MP3/AAC/OGG need an "
            "external codec)"
        )
    if bits != 16:
        raise AudioFormatError(f"unsupported WAV bit depth {bits} (only 16)")
    if channels < 1 or block_align != channels * 2:
        raise AudioFormatError(
            f"inconsistent WAV layout: channels={channels} "
            f"block_align={block_align}"
        )
    if len(payload) % block_align:
        raise AudioFormatError("WAV data not a whole number of frames")
    samples = np.frombuffer(payload, dtype="<i2").reshape(-1, channels)
    return rate, channels, samples.astype(np.int16)


# ---------------------------------------------------------------------------
# G.711 log-PCM — WAVE format tags 6 (A-law) and 7 (mu-law)
# ---------------------------------------------------------------------------
# ITU-T Recommendation G.711 (fully public) defines the two logarithmic
# companding laws of telephony audio.  The DECODE direction below is the
# spec's expansion written as the classic segment/mantissa closed form
# (the same arithmetic as the public-domain Sun Microsystems g711.c that
# every toolchain ships): a 256-entry int16 LUT, so expansion is one
# numpy gather — integer-exact, no float anywhere.
#
# The ENCODE direction is a FIXTURE encoder (like ``encode_wav`` /
# ``encode_wav_adpcm``: it builds test corpora, it is not a Spark
# sink).  It picks, for each 16-bit sample, the code whose decoded
# value is nearest (ties toward the lower decoded value, then the
# smaller code byte — fully deterministic), which makes
# decode(encode(x)) the nearest-quantized-level map by construction.

WAVE_FORMAT_ALAW = 6
WAVE_FORMAT_MULAW = 7

_G711_BIAS = 0x84  # mu-law bias (132), ITU G.711 / g711.c


def _ulaw_decode_table() -> np.ndarray:
    """256-entry int16 LUT: mu-law code byte -> linear sample.

    Expansion formula (G.711 mu-law, segment form): complement the
    code, split sign/segment/mantissa, rebuild the biased magnitude
    ``((mantissa << 3) + BIAS) << segment`` and strip the bias.
    Extremes: 0x00 -> -32124, 0x80 -> +32124, 0xFF and 0x7F -> 0.
    """
    global _ULAW_LUT
    if _ULAW_LUT is None:
        codes = np.arange(256, dtype=np.int32)
        u = ~codes & 0xFF
        seg = (u >> 4) & 0x07
        mant = u & 0x0F
        mag = (((mant << 3) + _G711_BIAS) << seg) - _G711_BIAS
        _ULAW_LUT = np.where(u & 0x80, -mag, mag).astype(np.int16)
    return _ULAW_LUT


def _alaw_decode_table() -> np.ndarray:
    """256-entry int16 LUT: A-law code byte -> linear sample.

    Expansion formula (G.711 A-law): XOR the 0x55 toggle mask, split
    sign/segment/mantissa; segment 0 is linear (step 16, half-step
    offset 8), higher segments double the step and gain an implicit
    leading mantissa bit.  Extremes: 0xD5 -> +8, 0x55 -> -8,
    0xAA -> +32256, 0x2A -> -32256.  The sign bit SET means positive
    (opposite of mu-law) — a classic interop trap the tests pin.
    """
    global _ALAW_LUT
    if _ALAW_LUT is None:
        codes = np.arange(256, dtype=np.int32)
        a = codes ^ 0x55
        seg = (a >> 4) & 0x07
        mant = a & 0x0F
        mag = (mant << 4) + 8
        mag = np.where(seg > 0, ((mant << 4) + 0x108) << (seg - 1), mag)
        _ALAW_LUT = np.where(a & 0x80, mag, -mag).astype(np.int16)
    return _ALAW_LUT


_ULAW_LUT: np.ndarray | None = None
_ALAW_LUT: np.ndarray | None = None


def _g711_encode_tables(lut: np.ndarray):
    """(sorted decoded levels, code byte per level, bin edges) for the
    nearest-level fixture encoder.  Ties on decoded value (mu-law has
    two zero codes) keep the LOWER code byte; ties between two adjacent
    levels go to the lower level via midpoint bin edges."""
    order = np.lexsort((np.arange(256), lut.astype(np.int32)))
    levels = lut.astype(np.int32)[order]
    codes = order.astype(np.uint8)
    keep = np.ones(256, dtype=bool)
    keep[1:] = levels[1:] != levels[:-1]  # first (lowest) code wins
    levels, codes = levels[keep], codes[keep]
    # nearest-level bins: right edge of level i is the midpoint toward
    # level i+1; searchsorted(side='left') then lands exact midpoints
    # on the LOWER level (an edge equal to x inserts at its own index)
    edges = (levels[:-1] + levels[1:]) // 2
    return levels, codes, edges


def encode_wav_g711(
    samples: np.ndarray, rate: int = 8000, law: str = "ulaw"
) -> bytes:
    """(n,) or (n, channels) int16 -> RIFF/WAVE G.711 bytes (format
    tag 7 mu-law / 6 A-law).  Fixture encoder: nearest decoded level,
    deterministic tie-breaks (see ``_g711_encode_tables``)."""
    if samples.dtype != np.int16:
        raise AudioFormatError("encode_wav_g711 expects int16 samples")
    if law == "ulaw":
        tag, lut = WAVE_FORMAT_MULAW, _ulaw_decode_table()
    elif law == "alaw":
        tag, lut = WAVE_FORMAT_ALAW, _alaw_decode_table()
    else:
        raise AudioFormatError(f"unknown G.711 law {law!r}")
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    _levels, codes, edges = _g711_encode_tables(lut)
    idx = np.searchsorted(edges, samples.astype(np.int32).ravel(), "left")
    payload = codes[idx].tobytes()
    block_align = ch
    fmt = struct.pack(
        "<HHIIHH", tag, ch, rate, rate * block_align, block_align, 8
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(payload))
        + payload
        + (b"\x00" if len(payload) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# IMA (DVI) ADPCM — WAVE format tag 0x11: real COMPRESSED audio decode
# ---------------------------------------------------------------------------

#: step-size table, IMA ADPCM specification (89 entries)
IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)

#: index-adjustment table (low 3 bits of the nibble)
IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_decode_nibbles(nibbles, predictor: int, index: int):
    """Reference IMA decode loop: one nibble -> one sample.  Pure
    integer state machine straight from the spec; the starting
    predictor is NOT emitted (block headers carry it as sample 0)."""
    out = []
    for n in nibbles:
        step = IMA_STEP_TABLE[index]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        if n & 8:
            diff = -diff
        predictor = max(-32768, min(32767, predictor + diff))
        index = max(0, min(88, index + IMA_INDEX_TABLE[n & 7]))
        out.append(predictor)
    return out, predictor, index


def _ima_tables() -> tuple[np.ndarray, np.ndarray]:
    """(DIFF, NEXT) lockstep tables: DIFF[index, nibble] is the signed
    predictor delta the reference loop computes for that state, and
    NEXT[index, nibble] the clamped follow-up step index.  The index
    walk depends only on the nibble stream (never on the predictor),
    so with these tables a whole batch of blocks decodes in lockstep —
    one gather + clip per sample position across every block at once,
    bit-identical to ``_ima_decode_nibbles``."""
    global _IMA_DIFF, _IMA_NEXT
    if _IMA_DIFF is None:
        diff = np.empty((89, 16), dtype=np.int32)
        nxt = np.empty((89, 16), dtype=np.int64)
        for i, step in enumerate(IMA_STEP_TABLE):
            for n in range(16):
                d = step >> 3
                if n & 1:
                    d += step >> 2
                if n & 2:
                    d += step >> 1
                if n & 4:
                    d += step
                diff[i, n] = -d if n & 8 else d
                nxt[i, n] = max(0, min(88, i + IMA_INDEX_TABLE[n & 7]))
        _IMA_DIFF, _IMA_NEXT = diff, nxt
    return _IMA_DIFF, _IMA_NEXT


_IMA_DIFF = None
_IMA_NEXT = None


def _ima_block_samples(blocks: np.ndarray) -> np.ndarray:
    """(nb, block_align) uint8 block matrix -> (nb, spb) int16 samples.

    Every IMA block is self-contained (the 4-byte header carries sample
    0 verbatim plus the step index), so arbitrarily many blocks — from
    one file or a whole Arrow batch of files — decode in lockstep: the
    loop runs over the ``spb - 1`` sample positions, each iteration a
    table gather + clip across all blocks."""
    diff_t, next_t = _ima_tables()
    nb, block_align = blocks.shape
    if nb == 0:
        return np.zeros((0, (block_align - 4) * 2 + 1), dtype=np.int16)
    preds = (
        blocks[:, :2].copy().view("<i2")[:, 0].astype(np.int32)
    )
    idx = blocks[:, 2].astype(np.int64)
    if idx.size and int(idx.max()) > 88:
        raise AudioFormatError(
            f"ADPCM step index {int(idx.max())} out of range"
        )
    body = blocks[:, 4:]
    n_nib = (block_align - 4) * 2
    nibs = np.empty((nb, n_nib), dtype=np.int64)
    nibs[:, 0::2] = body & 0xF
    nibs[:, 1::2] = body >> 4
    out = np.empty((nb, n_nib + 1), dtype=np.int16)
    out[:, 0] = preds
    pred = preds
    for t in range(n_nib):
        n = nibs[:, t]
        pred = np.clip(pred + diff_t[idx, n], -32768, 32767)
        out[:, t + 1] = pred
        idx = next_t[idx, n]
    return out


def _ima_encode_blocks(mat: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """(nb, spb) int16 sample matrix + per-block valid counts ->
    (nb, block_align) uint8 block bytes.

    Blocks are encoded SELF-CONTAINED (step index restarts at 0; the
    block header's index field exists precisely so the decoder honors
    it), which removes the only cross-block dependency and lets every
    block — from one clip or a whole fixture batch — run the nibble
    search in lockstep: one vectorized quantize + table walk per
    sample position across all blocks at once.  Positions past
    ``valid`` samples emit zero nibbles, the standard tail padding."""
    diff_t, next_t = _ima_tables()
    nb, spb = mat.shape
    n_nib = spb - 1
    step_t = np.asarray(IMA_STEP_TABLE, dtype=np.int32)
    tgt = mat[:, 1:].astype(np.int32)
    pred = mat[:, 0].astype(np.int32)
    idx = np.zeros(nb, dtype=np.int64)
    nibs = np.empty((nb, n_nib), dtype=np.int64)
    for t in range(n_nib):
        step = step_t[idx]
        delta = tgt[:, t] - pred
        neg = delta < 0
        delta = np.abs(delta)
        nib = np.where(neg, np.int64(8), np.int64(0))
        b4 = delta >= step
        nib = nib | (b4.astype(np.int64) << 2)
        delta = delta - step * b4
        half = step >> 1
        b2 = delta >= half
        nib = nib | (b2.astype(np.int64) << 1)
        delta = delta - half * b2
        nib = nib | (delta >= (step >> 2)).astype(np.int64)
        # reconstruct exactly as the decoder will
        pred = np.clip(pred + diff_t[idx, nib], -32768, 32767)
        idx = next_t[idx, nib]
        nibs[:, t] = nib
    cols = np.arange(n_nib, dtype=np.int64)
    nibs[cols[None, :] >= (valid[:, None] - 1)] = 0  # zero-nibble padding
    out = np.empty((nb, 4 + n_nib // 2), dtype=np.uint8)
    out[:, 0:2] = mat[:, 0].astype("<i2").view(np.uint8).reshape(nb, 2)
    out[:, 2] = 0  # step index restarts at 0 each block
    out[:, 3] = 0  # reserved
    out[:, 4:] = nibs[:, 0::2] | (nibs[:, 1::2] << 4)
    return out


def encode_wav_adpcm(
    samples: np.ndarray, rate: int = 8000, block_align: int = 132
) -> bytes:
    """(n,) int16 mono -> RIFF/WAVE IMA-ADPCM (format tag 0x11).

    Standard block layout: a 4-byte header (int16 predictor carrying
    sample 0 VERBATIM, uint8 step index, reserved) followed by
    ``block_align - 4`` nibble-pair bytes, so each block holds
    ``(block_align - 4) * 2 + 1`` samples; the final partial block is
    zero-nibble padded and the true frame count rides in the ``fact``
    chunk, exactly as real encoders emit.  Each block's step-index
    walk restarts at 0 (self-contained blocks — see
    ``_ima_encode_blocks``)."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise AudioFormatError("encode_wav_adpcm expects (n,) int16 mono")
    n = len(samples)
    if n == 0:
        raise AudioFormatError("encode_wav_adpcm needs at least one sample")
    spb = (block_align - 4) * 2 + 1
    # reference per-sample walk (fast at single-clip width, where the
    # lockstep's 256 short numpy ops would cost more than the loop);
    # byte-identical to _ima_encode_blocks, pinned by the unit suite
    blocks = bytearray()
    pos = 0
    while pos < n:
        chunk = samples[pos : pos + spb]
        pred = int(chunk[0])
        index = 0  # self-contained blocks: the index walk restarts
        blocks += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for s in chunk[1:]:
            s = int(s)
            step = IMA_STEP_TABLE[index]
            delta = s - pred
            nib = 0
            if delta < 0:
                nib = 8
                delta = -delta
            if delta >= step:
                nib |= 4
                delta -= step
            if delta >= step >> 1:
                nib |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                nib |= 1
            # reconstruct exactly as the decoder will
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            if nib & 8:
                diff = -diff
            pred = max(-32768, min(32767, pred + diff))
            index = max(0, min(88, index + IMA_INDEX_TABLE[nib & 7]))
            nibbles.append(nib)
        nibbles += [0] * (spb - 1 - len(nibbles))  # pad the last block
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
        pos += spb
    blocks = bytes(blocks)
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        1,
        rate,
        (rate * block_align + spb - 1) // spb,  # nominal byte rate
        block_align,
        4,  # bits per (encoded) sample
        2,  # cbSize
        spb,  # wSamplesPerBlock
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"fact"
        + struct.pack("<II", 4, n)
        + b"data"
        + struct.pack("<I", len(blocks))
        + bytes(blocks)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _parse_wav_adpcm(
    data: bytes,
) -> tuple[int, int, int, bytes, int | None]:
    """RIFF walk + geometry validation for an IMA-ADPCM WAV file ->
    (rate, block_align, spb, payload, fact_frames)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise AudioFormatError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    payload = None
    fact_frames = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunk = data[pos + 8 : pos + 8 + length]
        if len(chunk) != length:
            raise AudioFormatError(f"truncated WAV chunk {tag!r}")
        if tag == b"fmt ":
            if length < 16:
                raise AudioFormatError("fmt chunk too short")
            tag16 = struct.unpack("<H", chunk[:2])[0]
            if tag16 != 0x11:
                raise AudioFormatError(
                    f"not IMA ADPCM (format tag {tag16:#x})"
                )
            if length < 20:
                raise AudioFormatError(
                    "ADPCM fmt chunk missing wSamplesPerBlock"
                )
            fmt = struct.unpack("<HHIIHHHH", chunk[:20])
        elif tag == b"fact":
            if length < 4:
                raise AudioFormatError("fact chunk too short")
            (fact_frames,) = struct.unpack("<I", chunk[:4])
        elif tag == b"data":
            payload = chunk
            break
        pos += 8 + length + (length & 1)
    if fmt is None or payload is None:
        raise AudioFormatError("WAV missing fmt/data chunk")
    tag_, channels, rate, _br, block_align, bits, _cb, spb = fmt
    if tag_ != 0x11:
        raise AudioFormatError(f"not IMA ADPCM (format tag {tag_:#x})")
    if channels != 1:
        raise AudioFormatError("only mono IMA ADPCM supported")
    if bits != 4:
        raise AudioFormatError(f"bad ADPCM bits-per-sample {bits}")
    if spb != (block_align - 4) * 2 + 1:
        raise AudioFormatError(
            f"inconsistent ADPCM block geometry: align={block_align} "
            f"samples_per_block={spb}"
        )
    if len(payload) % block_align:
        raise AudioFormatError("ADPCM data not a whole number of blocks")
    return rate, block_align, spb, payload, fact_frames


def decode_wav_adpcm(data: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE IMA-ADPCM (mono, format tag 0x11) -> (rate, samples).

    Block-structured decode: each block's header predictor IS sample
    0 (emitted verbatim), the step index resumes from the header, and
    the nibble stream drives the integer state machine.  The ``fact``
    chunk's frame count trims the final block's zero-nibble padding —
    without honoring it a decoder silently appends garbage samples.
    Single-file path: the reference per-nibble walk (fast at one
    file's block width; ``decode_wav_adpcm_batch`` is the lockstep
    bulk path, bit-identical)."""
    rate, block_align, _spb, payload, fact_frames = _parse_wav_adpcm(data)
    out: list[int] = []
    for b0 in range(0, len(payload), block_align):
        pred, index, _ = struct.unpack("<hBB", payload[b0 : b0 + 4])
        if index > 88:
            raise AudioFormatError(f"ADPCM step index {index} out of range")
        out.append(pred)
        body = payload[b0 + 4 : b0 + block_align]
        nibbles = []
        for byte in body:
            nibbles.append(byte & 0xF)
            nibbles.append(byte >> 4)
        dec, _, _ = _ima_decode_nibbles(nibbles, pred, index)
        out.extend(dec)
    if fact_frames is not None:
        if fact_frames > len(out):
            raise AudioFormatError(
                f"fact frame count {fact_frames} exceeds decoded {len(out)}"
            )
        out = out[:fact_frames]
    return rate, np.asarray(out, dtype=np.int16)


def encode_wav_adpcm_batch(
    clips: list[np.ndarray], rate: int = 8000, block_align: int = 132
) -> list[bytes]:
    """Encode MANY mono int16 clips to IMA-ADPCM WAV in one lockstep
    pass — every block of every clip joins a single sample matrix and
    runs the nibble search together (the fixture-synthesis shape for
    ``mapInPandas``).  Byte-identical per clip to
    ``encode_wav_adpcm``, which restarts the step index per block for
    exactly this reason."""
    if not clips:
        return []
    spb = (block_align - 4) * 2 + 1
    mats = []
    metas = []
    for samples in clips:
        if samples.dtype != np.int16 or samples.ndim != 1:
            raise AudioFormatError(
                "encode_wav_adpcm_batch expects (n,) int16 mono clips"
            )
        n = len(samples)
        if n == 0:
            raise AudioFormatError(
                "encode_wav_adpcm_batch needs at least one sample per clip"
            )
        nb = (n + spb - 1) // spb
        mat = np.zeros((nb, spb), dtype=np.int16)
        mat.reshape(-1)[:n] = samples
        valid = np.full(nb, spb, dtype=np.int64)
        valid[-1] = n - (nb - 1) * spb
        mats.append(mat)
        metas.append((n, nb, valid))
    all_valid = np.concatenate([m[2] for m in metas])
    all_blocks = _ima_encode_blocks(
        np.concatenate(mats) if len(mats) != 1 else mats[0], all_valid
    )
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        1,
        rate,
        (rate * block_align + spb - 1) // spb,  # nominal byte rate
        block_align,
        4,  # bits per (encoded) sample
        2,  # cbSize
        spb,  # wSamplesPerBlock
    )
    out: list[bytes] = []
    ofs = 0
    for n, nb, _valid in metas:
        payload = all_blocks[ofs : ofs + nb].tobytes()
        ofs += nb
        body = (
            b"WAVE"
            + b"fmt "
            + struct.pack("<I", len(fmt))
            + fmt
            + b"fact"
            + struct.pack("<II", 4, n)
            + b"data"
            + struct.pack("<I", len(payload))
            + payload
        )
        out.append(b"RIFF" + struct.pack("<I", len(body)) + body)
    return out


def decode_wav_adpcm_batch(
    payloads: list[bytes],
) -> list[tuple[int, np.ndarray]]:
    """Decode MANY IMA-ADPCM WAV files in one lockstep pass.

    Headers parse per file (cheap), then every block of every file
    with the same ``block_align`` joins a single ``(total_blocks,
    block_align)`` matrix and decodes together — the Arrow-batch shape
    for ``mapInPandas``, where per-sample Python cost would otherwise
    dominate the media stage.  Results are bit-identical to
    ``decode_wav_adpcm`` per file."""
    parsed = [_parse_wav_adpcm(d) for d in payloads]
    by_align: dict[int, list[int]] = {}
    for i, (_r, ba, _spb, _pl, _ff) in enumerate(parsed):
        by_align.setdefault(ba, []).append(i)
    results: list[tuple[int, np.ndarray]] = [None] * len(payloads)
    for ba, idxs in by_align.items():
        mats = []
        counts = []
        for i in idxs:
            payload = parsed[i][3]
            nb = len(payload) // ba
            counts.append(nb)
            mats.append(
                np.frombuffer(payload, dtype=np.uint8).reshape(nb, ba)
            )
        all_blocks = np.concatenate(mats) if len(mats) != 1 else mats[0]
        decoded = _ima_block_samples(all_blocks)
        ofs = 0
        for i, nb in zip(idxs, counts):
            rate, _ba, _spb, _pl, fact_frames = parsed[i]
            out = decoded[ofs : ofs + nb].reshape(-1)
            ofs += nb
            if fact_frames is not None:
                if fact_frames > len(out):
                    raise AudioFormatError(
                        f"fact frame count {fact_frames} exceeds "
                        f"decoded {len(out)}"
                    )
                out = out[:fact_frames]
            # materialize per clip: a view would pin the whole batch's
            # decode matrix for the lifetime of any one clip's samples
            results[i] = (rate, out.astype(np.int16))  # astype copies
    return results
