"""Dependency-free image codecs: P6 PPM, 24-bit uncompressed BMP, and
8-bit PNG (both interlace methods).

This is the *real* decode path behind ``operators.multimodal.decode_media
(mode="real")``.  No third-party media library ships in this environment,
but all three formats below are fully specified public formats decodable
with the stdlib + numpy:

* **PPM (P6)** — netpbm binary RGB: ASCII header ``P6 <w> <h> <maxval>``
  (whitespace/comment tolerant) followed by a row-major RGB raster.
* **BMP (24bpp BI_RGB)** — BITMAPFILEHEADER + BITMAPINFOHEADER, pixel rows
  stored **bottom-up**, each row **BGR** and padded to a 4-byte boundary.
  Decoding genuinely has to flip the rows, strip the stride padding and
  swap BGR->RGB to recover the logical image.
* **PNG (8-bit, color types 2/3/6, interlace 0 and 1)** — chunked
  container with CRC-verified chunks; IDAT is zlib (stdlib) of
  per-scanline filtered rows, so decode = inflate + unfilter (all five
  PNG filter types: None/Sub/Up/Average/Paeth). Adam7 (interlace 1)
  inflates to SEVEN independently-filtered sub-images scattered into
  place by the pass grid — filtering context never crosses a pass
  boundary. RGBA (type 6) drops alpha to keep the uniform RGB
  contract; palette (type 3) maps CRC-checked PLTE entries through the
  unfiltered index plane. 16-bit and sub-byte palette depths raise
  with a precise message at the documented seam.

All decoders return ``(width, height, pixels)`` with ``pixels`` a
``(height, width, 3) uint8`` ndarray in row-major **RGB** order, so a
re-serialized raster is byte-identical whichever container carried it —
the property the ``multimodal_decode_real`` oracle checks end-to-end.

Encoders are provided for fixture construction (and are themselves
round-trip tested); they are not a Spark sink.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


class ImageFormatError(ValueError):
    """Raised for malformed or unsupported image bytes."""


#: 67 Mpx allocation guard, same cap as the JPEG/GIF/WebP/TIFF decoders
DECODE_MAX_PIXELS = 1 << 26


# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------


def encode_ppm(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> P6 bytes."""
    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ImageFormatError("encode_ppm expects (h, w, 3) uint8")
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def _ppm_tokens(data: bytes, count: int) -> tuple[list[int], int]:
    """Read ``count`` whitespace-separated ASCII integers after the magic,
    skipping ``#`` comments, per the netpbm spec. Returns (values, offset
    of the byte after the single whitespace that terminates the header)."""
    vals: list[int] = []
    i = 2  # past "P6"
    n = len(data)
    while len(vals) < count:
        while i < n and data[i : i + 1].isspace():
            i += 1
        if i < n and data[i : i + 1] == b"#":
            while i < n and data[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not data[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ImageFormatError("truncated PPM header")
        try:
            vals.append(int(data[i:j]))
        except ValueError as exc:
            raise ImageFormatError(f"bad PPM header token {data[i:j]!r}") from exc
        i = j
    # exactly ONE whitespace byte separates maxval from the raster
    if i >= n or not data[i : i + 1].isspace():
        raise ImageFormatError("PPM header not terminated")
    return vals, i + 1


def decode_ppm(data: bytes) -> tuple[int, int, np.ndarray]:
    if data[:2] != b"P6":
        raise ImageFormatError("not a P6 PPM")
    (w, h, maxval), off = _ppm_tokens(data, 3)
    if maxval != 255:
        raise ImageFormatError(f"unsupported PPM maxval {maxval} (only 8-bit)")
    if w <= 0 or h <= 0:
        raise ImageFormatError(f"bad PPM dimensions {w}x{h}")
    need = w * h * 3
    raster = data[off : off + need]
    if len(raster) != need:
        raise ImageFormatError(
            f"PPM raster truncated: need {need} bytes, have {len(raster)}"
        )
    return w, h, np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# BMP (24bpp, BI_RGB, bottom-up)
# ---------------------------------------------------------------------------

_BMP_HEADER = 14  # BITMAPFILEHEADER
_DIB_HEADER = 40  # BITMAPINFOHEADER


def _bmp_stride(w: int) -> int:
    return (w * 3 + 3) & ~3  # rows padded to 4-byte boundaries


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24bpp BI_RGB BMP bytes (bottom-up, BGR,
    4-byte row stride — the standard layout)."""
    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ImageFormatError("encode_bmp expects (h, w, 3) uint8")
    stride = _bmp_stride(w)
    img_size = stride * h
    off = _BMP_HEADER + _DIB_HEADER
    header = (
        b"BM"
        + (off + img_size).to_bytes(4, "little")  # file size
        + b"\x00\x00\x00\x00"  # reserved
        + off.to_bytes(4, "little")  # pixel data offset
        + _DIB_HEADER.to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")  # positive height => bottom-up
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB (uncompressed)
        + img_size.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4  # ppm resolution + palette counts
    )
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # flip+BGR
    return header + rows.tobytes()


def decode_bmp(data: bytes) -> tuple[int, int, np.ndarray]:
    if data[:2] != b"BM":
        raise ImageFormatError("not a BMP")
    if len(data) < _BMP_HEADER + _DIB_HEADER:
        raise ImageFormatError("BMP header truncated")
    pix_off = int.from_bytes(data[10:14], "little")
    dib_size = int.from_bytes(data[14:18], "little")
    if dib_size < _DIB_HEADER:
        raise ImageFormatError(f"unsupported DIB header size {dib_size}")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ImageFormatError(
            f"unsupported BMP variant: {bpp}bpp compression={compression}"
        )
    if w <= 0 or h == 0:
        raise ImageFormatError(f"bad BMP dimensions {w}x{h}")
    bottom_up = h > 0
    h = abs(h)
    stride = _bmp_stride(w)
    raster = data[pix_off : pix_off + stride * h]
    if len(raster) != stride * h:
        raise ImageFormatError(
            f"BMP raster truncated: need {stride * h} bytes, have {len(raster)}"
        )
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(h, stride)
    rgb = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # strip pad, BGR->RGB
    if bottom_up:
        rgb = rgb[::-1]
    return w, h, np.ascontiguousarray(rgb)


# ---------------------------------------------------------------------------
# PNG (8-bit, color type 2 RGB / 6 RGBA, non-interlaced)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG bytes (color type 2, filter 0 rows)."""
    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ImageFormatError("encode_png expects (h, w, 3) uint8")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # one filter byte (0 = None) per scanline
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = pixels.reshape(h, w * 3)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> palette PNG (color type 3, depth 8).

    The palette is the image's distinct colors in first-appearance
    (row-major) order — deterministic, so the emitted bytes are a pure
    function of the raster; raises when the image has more than 256
    distinct colors (the fixture rasters are 8-bit text bytes tripled
    to gray, far under the limit)."""
    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ImageFormatError("encode_png_palette expects (h, w, 3) uint8")
    flat = pixels.reshape(-1, 3)
    # first-appearance order: np.unique sorts, so recover order via the
    # index of each color's first occurrence
    packed = (
        flat[:, 0].astype(np.int64) << 16
    ) | (flat[:, 1].astype(np.int64) << 8) | flat[:, 2].astype(np.int64)
    colors, first_pos, inverse = np.unique(
        packed, return_index=True, return_inverse=True
    )
    if len(colors) > 256:
        raise ImageFormatError(
            f"encode_png_palette: {len(colors)} distinct colors (max 256)"
        )
    order = np.argsort(first_pos, kind="stable")
    rank = np.empty(len(colors), dtype=np.int64)
    rank[order] = np.arange(len(colors))
    idx = rank[inverse].astype(np.uint8).reshape(h, w)
    pal = flat[first_pos[order]]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = np.zeros((h, 1 + w), dtype=np.uint8)
    raw[:, 1:] = idx
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.astype(np.uint8).tobytes())
        + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_adam7(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> interlaced PNG (interlace method 1).

    Seven passes in Adam7 order, each an independently-filtered
    sub-image (filter 0 rows) gathered from the full raster by the
    pass grid; empty passes emit nothing.  Decodes to the identical
    raster as :func:`encode_png` — interlacing only reorders
    transmission, which is what lets the fixture sub-rotate formats
    under an unchanged oracle."""
    h, w, c = pixels.shape
    if c != 3 or pixels.dtype != np.uint8:
        raise ImageFormatError("encode_png_adam7 expects (h, w, 3) uint8")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    parts = []
    for (x0, y0, xs, ys), (pw, ph) in zip(
        _ADAM7_PASSES, _adam7_pass_dims(w, h)
    ):
        if pw == 0 or ph == 0:
            continue
        sub = pixels[y0::ys, x0::xs]  # (ph, pw, 3)
        raw = np.zeros((ph, 1 + pw * 3), dtype=np.uint8)
        raw[:, 1:] = sub.reshape(ph, pw * 3)
        parts.append(raw.tobytes())
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(parts), 6))
        + _png_chunk(b"IEND", b"")
    )


#: Adam7 pass geometry (PNG spec §8.2): (x_start, y_start, x_step,
#: y_step) per pass.  Each pass is an independently-filtered sub-image;
#: passes whose sub-image is empty for the given dimensions contribute
#: zero bytes (not even filter bytes).
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_pass_dims(w: int, h: int) -> list[tuple[int, int]]:
    """(pass_w, pass_h) for each of the 7 passes at image size w x h."""
    return [
        (
            (w - x0 + xs - 1) // xs if w > x0 else 0,
            (h - y0 + ys - 1) // ys if h > y0 else 0,
        )
        for (x0, y0, xs, ys) in _ADAM7_PASSES
    ]


def _png_unfilter(
    raw: np.ndarray, h: int, w: int, bpp: int
) -> np.ndarray:
    """Undo PNG scanline filtering. ``raw`` is (h, 1 + w*bpp) uint8 with
    the filter byte in column 0.

    The whole image unfilters through the ``core/_native`` C helper.
    The numpy form below runs only with ``_native.LIB`` unset, as the
    reference the C path is tested against: filters None/Up are
    vectorized per row, Sub is a strided cumulative sum, and
    Average/Paeth — whose left-neighbor dependency (PNG spec §6) forbids
    full vectorization — run as a per-PIXEL loop over bpp-wide numpy
    lanes (all channels of a pixel at once), not per byte: O(h*w)
    interpreter iterations instead of O(h*w*bpp)."""
    from . import _native

    stride = w * bpp
    if _native.LIB is not None:
        try:
            return _native.png_unfilter(raw, h, stride, bpp)
        except ValueError as exc:
            raise ImageFormatError(str(exc)) from exc
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        if ftype == 0:  # None
            rec = line
        elif ftype == 1:  # Sub: recon[x] = raw[x] + recon[x - bpp]
            rec = line.reshape(w, bpp).cumsum(axis=0).reshape(stride)
        elif ftype == 2:  # Up
            rec = line + prev
        elif ftype == 3:  # Average
            line2 = line.reshape(w, bpp)
            prev2 = prev.astype(np.int32).reshape(w, bpp)
            rec2 = np.empty((w, bpp), dtype=np.int32)
            a = np.zeros(bpp, dtype=np.int32)
            for i in range(w):
                a = (line2[i] + ((a + prev2[i]) >> 1)) & 0xFF
                rec2[i] = a
            rec = rec2.reshape(stride)
        elif ftype == 4:  # Paeth
            line2 = line.reshape(w, bpp)
            prev2 = prev.astype(np.int32).reshape(w, bpp)
            rec2 = np.empty((w, bpp), dtype=np.int32)
            a = np.zeros(bpp, dtype=np.int32)
            cc = np.zeros(bpp, dtype=np.int32)
            for i in range(w):
                b = prev2[i]
                p = a + b - cc
                pa = np.abs(p - a)
                pb = np.abs(p - b)
                pc = np.abs(p - cc)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, cc)
                )
                a = (line2[i] + pred) & 0xFF
                rec2[i] = a
                cc = b
            rec = rec2.reshape(stride)
        else:
            raise ImageFormatError(f"bad PNG filter type {ftype}")
        prev = (rec & 0xFF).astype(np.uint8)
        out[y] = prev
    return out


def decode_png(data: bytes) -> tuple[int, int, np.ndarray]:
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ImageFormatError("not a PNG")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) != length or pos + 12 + length > len(data):
            raise ImageFormatError(f"truncated PNG chunk {tag!r}")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ImageFormatError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"PLTE":
            if length == 0 or length % 3 != 0 or length > 256 * 3:
                raise ImageFormatError(f"bad PNG PLTE length {length}")
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ImageFormatError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8:
        raise ImageFormatError(f"unsupported PNG bit depth {depth} (only 8)")
    if color not in (2, 3, 6):
        raise ImageFormatError(
            f"unsupported PNG color type {color} "
            "(only RGB=2 / palette=3 / RGBA=6)"
        )
    if color == 3 and plte is None:
        raise ImageFormatError("palette PNG missing PLTE chunk")
    if interlace not in (0, 1):
        raise ImageFormatError(f"bad PNG interlace method {interlace}")
    if comp != 0 or filt != 0:
        raise ImageFormatError("non-standard PNG compression/filter method")
    if w <= 0 or h <= 0:
        raise ImageFormatError(f"bad PNG dimensions {w}x{h}")
    if w * h > DECODE_MAX_PIXELS:
        raise ImageFormatError(
            f"refusing {w}x{h} PNG decode: the "
            f"{DECODE_MAX_PIXELS} px guard bounds hostile headers "
            "(same cap as the JPEG/GIF/WebP/TIFF decoders)"
        )
    bpp = {2: 3, 3: 1, 6: 4}[color]
    # bounded inflate: PNG is the one format here whose OUTPUT size is
    # decoupled from input size by compression, so a few-KB zlib bomb
    # could otherwise allocate gigabytes before any length check runs;
    # the raster geometry bounds the only legal plaintext size exactly
    # (Adam7 carries one filter byte per PASS row, so its need is the
    # per-pass sum, slightly larger than the sequential raster)
    if interlace == 0:
        legal_need = h * (1 + w * bpp)
    else:
        legal_need = sum(
            ph * (1 + pw * bpp)
            for (pw, ph) in _adam7_pass_dims(w, h)
            if pw > 0 and ph > 0
        )
    max_plain = legal_need + 1  # +1: detect oversized streams
    try:
        dobj = zlib.decompressobj()
        plain = dobj.decompress(bytes(idat), max_plain)
        if dobj.unconsumed_tail or (
            not dobj.eof and dobj.flush(1)  # anything further = bomb
        ):
            raise ImageFormatError(
                "PNG IDAT inflates past the raster size"
            )
    except zlib.error as exc:
        raise ImageFormatError(f"PNG IDAT inflate failed: {exc}") from exc
    if interlace == 0:
        need = h * (1 + w * bpp)
        if len(plain) != need:
            raise ImageFormatError(
                f"PNG raster size mismatch: need {need} bytes, "
                f"have {len(plain)}"
            )
        raw = np.frombuffer(plain, dtype=np.uint8).reshape(h, 1 + w * bpp)
        rec = _png_unfilter(raw, h, w, bpp).reshape(h, w, bpp)
    else:
        # Adam7: seven independently-filtered sub-images, scattered
        # into place by the pass grid.  Filtering context (prev row,
        # left pixel) is PER PASS — a sub-image's first row filters
        # against zeros even though its pixels interleave with other
        # passes' rows in the final raster.
        need = sum(
            ph * (1 + pw * bpp)
            for (pw, ph) in _adam7_pass_dims(w, h)
            if pw > 0 and ph > 0
        )
        if len(plain) != need:
            raise ImageFormatError(
                f"PNG Adam7 raster size mismatch: need {need} bytes, "
                f"have {len(plain)}"
            )
        rec = np.zeros((h, w, bpp), dtype=np.uint8)
        buf = np.frombuffer(plain, dtype=np.uint8)
        pos = 0
        for (x0, y0, xs, ys), (pw, ph) in zip(
            _ADAM7_PASSES, _adam7_pass_dims(w, h)
        ):
            if pw == 0 or ph == 0:
                continue
            nbytes = ph * (1 + pw * bpp)
            raw = buf[pos : pos + nbytes].reshape(ph, 1 + pw * bpp)
            pos += nbytes
            sub = _png_unfilter(raw, ph, pw, bpp).reshape(ph, pw, bpp)
            rec[y0::ys, x0::xs] = sub
    if color == 3:
        idx = rec.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ImageFormatError(
                f"PNG palette index {int(idx.max())} out of range "
                f"(palette has {len(plte)} entries)"
            )
        return w, h, np.ascontiguousarray(plte[idx])
    rgb = rec[:, :, :3]  # RGBA: alpha dropped for the uniform contract
    return w, h, np.ascontiguousarray(rgb)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------


def decode_image(data: bytes) -> tuple[int, int, np.ndarray]:
    """Sniff the magic bytes and decode. Raises ImageFormatError for
    anything that is not a P6 PPM, a 24bpp BI_RGB BMP, or a supported
    PNG."""
    if data[:2] == b"P6":
        return decode_ppm(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[: len(_PNG_SIG)] == _PNG_SIG:
        return decode_png(data)
    raise ImageFormatError(f"unrecognized image magic {data[:2]!r}")
