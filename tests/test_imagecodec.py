"""Pure-python/numpy tests for core/imagecodec.py — no Spark needed."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from databatchprotectionservice_spark.core.imagecodec import (
    ImageFormatError,
    decode_bmp,
    decode_image,
    decode_ppm,
    encode_bmp,
    encode_ppm,
)


def _img(h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("h,w", [(1, 1), (3, 5), (7, 4), (2, 32), (5, 3)])
def test_ppm_roundtrip(h, w):
    px = _img(h, w, seed=h * 100 + w)
    dw, dh, out = decode_ppm(encode_ppm(px))
    assert (dw, dh) == (w, h)
    np.testing.assert_array_equal(out, px)


@pytest.mark.parametrize("h,w", [(1, 1), (3, 5), (7, 4), (2, 32), (5, 3)])
def test_bmp_roundtrip(h, w):
    # widths 1,3,5 exercise non-zero 4-byte stride padding
    px = _img(h, w, seed=h * 100 + w)
    dw, dh, out = decode_bmp(encode_bmp(px))
    assert (dw, dh) == (w, h)
    np.testing.assert_array_equal(out, px)


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_containers_agree_on_raster(h, w, seed):
    """The SAME pixels through either container decode to the SAME array
    — the property the decode_real oracle relies on."""
    px = _img(h, w, seed=seed)
    _, _, from_ppm = decode_image(encode_ppm(px))
    _, _, from_bmp = decode_image(encode_bmp(px))
    np.testing.assert_array_equal(from_ppm, from_bmp)
    np.testing.assert_array_equal(from_ppm, px)


def test_ppm_comment_and_whitespace_header():
    px = _img(2, 3)
    raw = px.tobytes()
    data = b"P6 # comment\n# another\n 3\t2 # dims\n255\n" + raw
    w, h, out = decode_ppm(data)
    assert (w, h) == (3, 2)
    np.testing.assert_array_equal(out, px)


def test_bmp_topdown_negative_height():
    """Negative biHeight means rows are stored top-down: flip the row
    order of a bottom-up encoding and negate the height field."""
    px = _img(3, 4)
    data = bytearray(encode_bmp(px))
    h = int.from_bytes(data[22:26], "little")
    data[22:26] = (-h).to_bytes(4, "little", signed=True)
    stride = ((4 * 3 + 3) & ~3) * 3
    off = len(data) - stride
    rows = np.frombuffer(bytes(data[off:]), dtype=np.uint8).reshape(3, -1)
    data[off:] = rows[::-1].tobytes()
    dw, dh, out = decode_bmp(bytes(data))
    assert (dw, dh) == (4, 3)
    np.testing.assert_array_equal(out, px)


def test_errors():
    with pytest.raises(ImageFormatError):
        decode_image(b"\x89PNG\r\n")
    with pytest.raises(ImageFormatError):
        decode_ppm(b"P6\n3 2\n65535\n" + b"\x00" * 36)  # 16-bit maxval
    with pytest.raises(ImageFormatError):
        decode_ppm(b"P6\n3 2\n255\n" + b"\x00" * 5)  # truncated raster
    with pytest.raises(ImageFormatError):
        decode_bmp(b"BM" + b"\x00" * 10)  # truncated header
    good = bytearray(encode_bmp(_img(2, 2)))
    good[28:30] = (8).to_bytes(2, "little")  # 8bpp palette BMP
    with pytest.raises(ImageFormatError):
        decode_bmp(bytes(good))


def test_raster_md5_matches_padded_text_bytes():
    """End-to-end mirror of the multimodal_decode_real oracle identity:
    text bytes space-padded to w*h*3, containerized, decoded, re-serialized
    -> identical bytes."""
    import hashlib

    text = "hello multimodal é中"  # multi-byte utf-8 on purpose
    raw = text.encode("utf-8")
    w = 32
    n_pix = (len(raw) + 2) // 3
    h = max((n_pix + w - 1) // w, 1)
    raster = raw.ljust(w * h * 3, b" ")
    px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
    for enc in (encode_ppm, encode_bmp):
        dw, dh, out = decode_image(enc(px))
        assert (dw, dh) == (w, h)
        assert hashlib.md5(out.tobytes()).hexdigest() == hashlib.md5(
            raster
        ).hexdigest()


# --- PNG -------------------------------------------------------------------


def _pix(h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@settings(max_examples=25, deadline=None)
@given(h=st.integers(1, 12), w=st.integers(1, 12), seed=st.integers(0, 99))
def test_png_roundtrip(h, w, seed):
    from databatchprotectionservice_spark.core.imagecodec import (
        decode_image,
        encode_png,
    )

    pixels = _pix(h, w, seed)
    got_w, got_h, got = decode_image(encode_png(pixels))
    assert (got_w, got_h) == (w, h)
    assert np.array_equal(got, pixels)


def _png_with_filters(pixels, filters, bpp=3, alpha=None):
    """Independent PNG writer applying each row's filter FORWARD per the
    spec — exercises the decoder's unfilter against a reference
    implementation that shares no code with it."""
    import struct
    import zlib

    from databatchprotectionservice_spark.core.imagecodec import _png_chunk

    h, w, _ = pixels.shape
    if alpha is not None:
        img = np.dstack([pixels, alpha]).astype(np.int32)
    else:
        img = pixels.astype(np.int32)
    stride = w * bpp
    flat = img.reshape(h, stride)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = flat[y]
        line = np.empty(stride, dtype=np.int32)
        for x in range(stride):
            a = int(cur[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (int(cur[x]) - pred) & 0xFF
        out.append(f)
        out.extend(line.astype(np.uint8).tobytes())
        prev = cur
    color = 2 if bpp == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_all_filter_types_unfilter_correctly():
    from databatchprotectionservice_spark.core.imagecodec import decode_image

    pixels = _pix(10, 7, seed=3)
    # rows cycle through every filter type 0-4
    data = _png_with_filters(pixels, filters=[0, 1, 2, 3, 4])
    w, h, got = decode_image(data)
    assert (w, h) == (7, 10)
    assert np.array_equal(got, pixels)


def test_png_rgba_drops_alpha():
    from databatchprotectionservice_spark.core.imagecodec import decode_image

    pixels = _pix(5, 4, seed=9)
    alpha = np.full((5, 4), 128, dtype=np.uint8)
    data = _png_with_filters(pixels, filters=[4, 2, 1], bpp=4, alpha=alpha)
    w, h, got = decode_image(data)
    assert (w, h) == (4, 5)
    assert np.array_equal(got, pixels)


def test_png_errors():
    import struct
    import zlib as _z

    from databatchprotectionservice_spark.core.imagecodec import (
        ImageFormatError,
        _png_chunk,
        decode_image,
        encode_png,
    )

    good = encode_png(_pix(3, 3))
    # CRC corruption (flip a byte inside IDAT payload)
    bad = bytearray(good)
    bad[len(good) - 20] ^= 0xFF
    with pytest.raises(ImageFormatError, match="CRC"):
        decode_image(bytes(bad))
    # truncated chunk
    with pytest.raises(ImageFormatError, match="truncated|missing IHDR"):
        decode_image(good[:20])

    def mk(depth=8, color=2, interlace=0):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
        raw = bytes(2 * (1 + 2 * 3))
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _z.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    with pytest.raises(ImageFormatError, match="bit depth"):
        decode_image(mk(depth=16))
    with pytest.raises(ImageFormatError, match="color type"):
        decode_image(mk(color=4))  # gray+alpha (unsupported)
    with pytest.raises(ImageFormatError, match="missing PLTE"):
        decode_image(mk(color=3))  # palette without its PLTE chunk
    # interlace 1 is SUPPORTED now (Adam7, tests below); only unknown
    # interlace methods reject
    with pytest.raises(ImageFormatError, match="interlace"):
        decode_image(mk(interlace=2))


def test_png_unfilter_native_and_numpy_paths_agree():
    """The C path and the bpp-laned numpy reference must produce
    identical reconstructions for every filter type."""
    import numpy as np

    from databatchprotectionservice_spark.core import _native
    from databatchprotectionservice_spark.core.imagecodec import (
        _png_unfilter,
    )
    rng = np.random.RandomState(13)
    for bpp in (3, 4):
        w, h = 17, 11
        stride = w * bpp
        raw = rng.randint(0, 256, size=(h, 1 + stride), dtype=np.uint8)
        raw[:, 0] = np.arange(h) % 5  # cycle through all filter types
        native = _native.png_unfilter(raw, h, stride, bpp)
        lib, _native.LIB = _native.LIB, None
        try:
            fallback = _png_unfilter(raw, h, w, bpp)
        finally:
            _native.LIB = lib
        assert np.array_equal(native, fallback)


# ---------------------------------------------------------------------------
# Adam7 interlaced PNG
# ---------------------------------------------------------------------------


def _png_adam7_with_filters(pixels, filters, bpp=3, alpha=None):
    """Independent Adam7 writer: gathers each pass's sub-image straight
    from the spec's grid table and forward-filters its rows with the
    SAME reference filter code as ``_png_with_filters`` — filter
    context (prev row / left pixel) resets at every pass boundary,
    exactly what the spec requires and what a decoder that carried
    context across passes would get wrong."""
    import struct
    import zlib

    from databatchprotectionservice_spark.core.imagecodec import _png_chunk

    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    h, w, _ = pixels.shape
    if alpha is not None:
        img = np.dstack([pixels, alpha]).astype(np.int32)
    else:
        img = pixels.astype(np.int32)
    out = bytearray()
    fi = 0
    for (x0, y0, xs, ys) in passes:
        sub = img[y0::ys, x0::xs]
        ph, pw = sub.shape[0], sub.shape[1]
        if ph == 0 or pw == 0:
            continue
        stride = pw * bpp
        flat = sub.reshape(ph, stride)
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(ph):
            f = filters[fi % len(filters)]
            fi += 1
            cur = flat[y]
            line = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    )
                line[x] = (int(cur[x]) - pred) & 0xFF
            out.append(f)
            out.extend(line.astype(np.uint8).tobytes())
            prev = cur
    color = 2 if bpp == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize(
    "h, w", [(1, 1), (2, 3), (3, 3), (5, 3), (7, 9), (8, 8), (16, 13)]
)
def test_png_adam7_roundtrip_equals_sequential(h, w):
    from databatchprotectionservice_spark.core.imagecodec import (
        decode_image,
        encode_png,
        encode_png_adam7,
    )

    pixels = _pix(h, w, seed=h * 31 + w)
    _, _, seq = decode_image(encode_png(pixels))
    got_w, got_h, inter = decode_image(encode_png_adam7(pixels))
    assert (got_w, got_h) == (w, h)
    assert np.array_equal(inter, seq)
    assert np.array_equal(inter, pixels)


def test_png_adam7_all_filters_reset_per_pass():
    from databatchprotectionservice_spark.core.imagecodec import decode_image

    pixels = _pix(11, 10, seed=42)
    # sub-image rows cycle through every filter type across passes
    data = _png_adam7_with_filters(pixels, filters=[4, 3, 2, 1, 0])
    w, h, got = decode_image(data)
    assert (w, h) == (10, 11)
    assert np.array_equal(got, pixels)


def test_png_adam7_rgba_drops_alpha():
    from databatchprotectionservice_spark.core.imagecodec import decode_image

    pixels = _pix(6, 5, seed=8)
    alpha = np.full((6, 5), 77, dtype=np.uint8)
    data = _png_adam7_with_filters(
        pixels, filters=[2, 4, 1], bpp=4, alpha=alpha
    )
    w, h, got = decode_image(data)
    assert (w, h) == (5, 6)
    assert np.array_equal(got, pixels)


def test_png_adam7_empty_passes_small_images():
    """w or h below a pass's start coordinate empties that pass (a 3x3
    image has no pass-2 columns and no pass-3 rows); the byte layout
    must skip them entirely."""
    from databatchprotectionservice_spark.core.imagecodec import (
        decode_image,
        encode_png_adam7,
    )

    for h, w in [(1, 1), (1, 4), (4, 1), (3, 3), (4, 4), (2, 8), (8, 2)]:
        pixels = _pix(h, w, seed=h * 7 + w)
        got_w, got_h, got = decode_image(encode_png_adam7(pixels))
        assert (got_w, got_h) == (w, h)
        assert np.array_equal(got, pixels)


def test_png_adam7_truncated_raises():
    from databatchprotectionservice_spark.core.imagecodec import (
        ImageFormatError,
        decode_png,
        encode_png_adam7,
        _png_chunk,
    )
    import struct
    import zlib

    pixels = _pix(9, 9, seed=1)
    # rebuild with one byte missing from the inflated pass data
    ihdr = struct.pack(">IIBBBBB", 9, 9, 8, 2, 0, 0, 1)
    good = encode_png_adam7(pixels)
    # extract and truncate the zlib payload
    from databatchprotectionservice_spark.core.imagecodec import _PNG_SIG

    pos = len(_PNG_SIG)
    idat = None
    while pos + 8 <= len(good):
        (length,) = struct.unpack(">I", good[pos : pos + 4])
        tag = good[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat = good[pos + 8 : pos + 8 + length]
        pos += 12 + length
    plain = zlib.decompress(idat)[:-1]
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(plain))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ImageFormatError, match="Adam7"):
        decode_png(bad)


# ---------------------------------------------------------------------------
# Palette PNG (color type 3)
# ---------------------------------------------------------------------------


def _palette_png(idx, pal, filters):
    """Independent palette-PNG writer: forward-filters the INDEX rows
    (bpp = 1 lanes) with the reference filter code, shares only the
    chunk framer with the codec."""
    import struct
    import zlib

    from databatchprotectionservice_spark.core.imagecodec import _png_chunk

    h, w = idx.shape
    out = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    flat = idx.astype(np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = flat[y]
        line = np.empty(w, dtype=np.int32)
        for x in range(w):
            a = int(cur[x - 1]) if x >= 1 else 0
            b = int(prev[x])
            c = int(prev[x - 1]) if x >= 1 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (int(cur[x]) - pred) & 0xFF
        out.append(f)
        out.extend(line.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.astype(np.uint8).tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("h, w", [(1, 1), (3, 5), (8, 8), (16, 13)])
def test_png_palette_roundtrip(h, w):
    from databatchprotectionservice_spark.core.imagecodec import (
        decode_image,
        encode_png_palette,
    )

    rng = np.random.default_rng(h * 17 + w)
    pixels = (rng.integers(0, 6, (h, w, 3)) * 41).astype(np.uint8)
    got_w, got_h, got = decode_image(encode_png_palette(pixels))
    assert (got_w, got_h) == (w, h)
    assert np.array_equal(got, pixels)


def test_png_palette_filtered_indices_decode_through_lut():
    from databatchprotectionservice_spark.core.imagecodec import decode_image

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (7, 3)).astype(np.uint8)
    idx = rng.integers(0, 7, (9, 6)).astype(np.uint8)
    data = _palette_png(idx, pal, filters=[4, 1, 3, 2, 0])
    w, h, got = decode_image(data)
    assert (w, h) == (6, 9)
    assert np.array_equal(got, pal[idx])


def test_png_palette_index_out_of_range_raises():
    from databatchprotectionservice_spark.core.imagecodec import (
        ImageFormatError,
        decode_png,
    )

    pal = np.zeros((4, 3), dtype=np.uint8)
    idx = np.array([[0, 1], [2, 9]], dtype=np.uint8)  # 9 >= 4
    with pytest.raises(ImageFormatError, match="out of range"):
        decode_png(_palette_png(idx, pal, filters=[0]))


def test_png_palette_first_appearance_order_is_deterministic():
    from databatchprotectionservice_spark.core.imagecodec import (
        encode_png_palette,
    )

    px = np.array(
        [[[9, 9, 9], [3, 3, 3], [9, 9, 9], [1, 1, 1]]], dtype=np.uint8
    )
    a = encode_png_palette(px)
    b = encode_png_palette(px.copy())
    assert a == b
    # PLTE holds colors in first-appearance order: 9, 3, 1
    i = a.index(b"PLTE") + 4
    assert a[i : i + 9] == bytes([9, 9, 9, 3, 3, 3, 1, 1, 1])
