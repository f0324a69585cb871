#!/usr/bin/env python
"""Extended cross-codec fuzz campaign (beyond the per-commit 300-trial
pytest battery): N byte-mutations per format (default 10000), every
truncation and a tail-extension per length, and full cross-codec
payload confusion (every decoder fed every other format's bytes).
Contract: decode or raise the codec's own domain error — any other
exception is a task-killing escape.  Findings to date: TIFF
RowsPerStrip=0 ZeroDivisionError and ADPCM short-fact-chunk
struct.error, both fixed with regression tests (r9).

Usage: python scripts/stress_fuzz.py [n_mutations_per_format]
"""
import sys, traceback
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import numpy as np

from databatchprotectionservice_spark.core.audiocodec import (
    AudioFormatError, decode_wav, decode_wav_adpcm, encode_wav, encode_wav_adpcm)
from databatchprotectionservice_spark.core.flaccodec import (
    FlacFormatError, decode_flac, encode_flac)
from databatchprotectionservice_spark.core.gifcodec import (
    GRAY_PALETTE, GifFormatError, decode_gif, encode_gif)
from databatchprotectionservice_spark.core.imagecodec import (
    ImageFormatError, decode_image, encode_bmp, encode_png, encode_png_adam7,
    encode_png_palette, encode_ppm)
from databatchprotectionservice_spark.core.jpegcodec import (
    JpegFormatError, decode_jpeg, encode_jpeg_gray_tiles,
    encode_jpeg_gray_tiles_progressive)
from databatchprotectionservice_spark.core.tiffcodec import (
    TiffFormatError, decode_tiff, encode_tiff)
from databatchprotectionservice_spark.core.webpcodec import (
    WebpFormatError, decode_webp, encode_webp)
from databatchprotectionservice_spark.core.videocodec import (
    VideoFormatError, decode_y4m, encode_y4m)
from databatchprotectionservice_spark.core.mp4codec import (
    Mp4FormatError, parse_mp4, encode_mp4)
from databatchprotectionservice_spark.core.avicodec import (
    AviFormatError, decode_avi_mjpeg, encode_avi_mjpeg)
from databatchprotectionservice_spark.core.arrowipc import (
    ArrowIpcFormatError, read_arrow_ipc, read_arrow_stream)
from databatchprotectionservice_spark.core.cborcodec import (
    CborFormatError, CborTag)
from databatchprotectionservice_spark.core.cborcodec import dumps as cbor_dumps
from databatchprotectionservice_spark.core.cborcodec import loads as cbor_loads
from databatchprotectionservice_spark.core.robotscodec import (
    is_allowed, parse_robots)
from databatchprotectionservice_spark.core.inflatecodec import (
    InflateError, inflate_gzip, inflate_zlib)
from databatchprotectionservice_spark.core.errors import DBPSInvalidInputError
from databatchprotectionservice_spark.core.orcmeta import (
    OrcFormatError, decompress_region)
from databatchprotectionservice_spark.core.orcread import read_orc_columns
from databatchprotectionservice_spark.core.zstdmeta import (
    ZstdFormatError, parse_zstd_frames, xxh64)


def _zstd_checksummed_frame(content: bytes) -> bytes:
    """Real libzstd Compressed blocks + a spliced content checksum, so
    the fuzz target covers the frame walk, the libzstd block decode
    AND the checksum verify."""
    import pyarrow as _pa

    frame = bytearray(_pa.Codec("zstd", compression_level=19).compress(content))
    frame[4] |= 0x04
    frame += (xxh64(content, 0) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(frame)

def _orc_lz4_region(parts) -> bytes:
    """ORC chunk framing around raw liblz4 blocks: the frame-wrapped
    block read, its 4 MiB cap and the region walk."""
    import pyarrow as _pa

    out = b""
    for part in parts:
        blk = _pa.compress(part, codec="lz4_raw", asbytes=True)
        out += (len(blk) << 1).to_bytes(3, "little") + blk
    return out

def _arrow_int_utf8(ints, strs, chunk, stream=False, compression=None) -> bytes:
    """int64 + utf8 columns as a pyarrow-written Arrow IPC file (or
    stream) in `chunk`-row batches."""
    import io
    import pyarrow as _pa

    table = _pa.table({"a": _pa.array(ints, _pa.int64()),
                       "s": _pa.array(strs, _pa.string())})
    buf = io.BytesIO()
    opts = _pa.ipc.IpcWriteOptions(compression=compression)
    new = _pa.ipc.new_stream if stream else _pa.ipc.new_file
    with new(buf, table.schema, options=opts) as w:
        for b in table.to_batches(max_chunksize=chunk):
            w.write_batch(b)
    return buf.getvalue()

def _orc_file() -> bytes:
    """Uncompressed pyarrow-written ORC file (int64 + nullable strings)
    for the full reader: parse_orc_meta + read_orc_columns."""
    import io
    import pyarrow as _pa
    import pyarrow.orc as _orc

    buf = io.BytesIO()
    _orc.write_table(
        _pa.table({"a": _pa.array(range(200), _pa.int64()),
                   "s": _pa.array([None if i % 9 == 0 else f"row {i}"
                                   for i in range(200)])}),
        buf, compression="uncompressed")
    return buf.getvalue()

rng = np.random.RandomState(20260815)
img = rng.randint(0, 256, size=(9, 11, 3), dtype=np.uint8)
pal_img = (img // 64) * 64
gray = rng.randint(0, 256, size=(3, 8), dtype=np.uint8)
pcm = rng.randint(-30000, 30000, 1500).astype(np.int16)
frames = rng.randint(0, 256, size=(2, 3, 8, 8), dtype=np.uint8)

BASES = {
    "png": (encode_png(img), decode_image, ImageFormatError),
    "png_adam7": (encode_png_adam7(img), decode_image, ImageFormatError),
    "png_palette": (encode_png_palette(pal_img), decode_image, ImageFormatError),
    "bmp": (encode_bmp(img), decode_image, ImageFormatError),
    "ppm": (encode_ppm(img), decode_image, ImageFormatError),
    "gif": (encode_gif(img[:, :, 0], GRAY_PALETTE), decode_gif, GifFormatError),
    "jpeg": (encode_jpeg_gray_tiles(gray), decode_jpeg, JpegFormatError),
    "jpeg_prog": (encode_jpeg_gray_tiles_progressive(gray), decode_jpeg, JpegFormatError),
    "tiff": (encode_tiff(img, compression="lzw", predictor=True), decode_tiff, TiffFormatError),
    "webp": (encode_webp(img), decode_webp, WebpFormatError),
    "wav": (encode_wav(pcm), decode_wav, AudioFormatError),
    "adpcm": (encode_wav_adpcm(pcm), decode_wav_adpcm, AudioFormatError),
    "flac": (encode_flac(pcm), decode_flac, FlacFormatError),
    "y4m": (encode_y4m(frames), decode_y4m, VideoFormatError),
    "mp4": (encode_mp4([3, 5], [100, 100]), parse_mp4, Mp4FormatError),
    "avi_mjpeg": (
        encode_avi_mjpeg(
            [encode_jpeg_gray_tiles(gray), encode_jpeg_gray_tiles(gray)],
            gray.shape[1] * 8,
            gray.shape[0] * 8,
        ),
        decode_avi_mjpeg,
        AviFormatError,
    ),
    "arrow_ipc": (
        _arrow_int_utf8([1, None, 3, 4], ["x", "yy", None, ""], 3),
        read_arrow_ipc,
        ArrowIpcFormatError,
    ),
    "cbor": (
        cbor_dumps({"ids": list(range(20)), "t": CborTag(1, 123),
                    "b": b"\x00" * 10, "f": 1.25, "s": "text"}),
        cbor_loads,
        CborFormatError,
    ),
    "zlib_deflate": (
        __import__("zlib").compress(bytes(range(256)) * 4, 6),
        inflate_zlib,
        InflateError,
    ),
    "gzip_member": (
        __import__("gzip").compress(bytes(range(256)) * 4, 6),
        inflate_gzip,
        InflateError,
    ),
    # robots.txt: the contract is TOTALITY — no exception is a domain
    # error here, so the empty except-tuple reports any raise at all
    "robots": (
        b"User-agent: *\nDisallow: /p/\nAllow: /p/ok$\n",
        lambda b: is_allowed(
            parse_robots(bytes(b).decode("latin-1")), "bot", "/p/x"
        ),
        (),
    ),
    "arrow_ipc_lz4": (
        _arrow_int_utf8(
            [i % 7 for i in range(120)],
            ["lz4 " * (i % 5) for i in range(120)],
            120, stream=True, compression="lz4",
        ),
        read_arrow_stream,
        ArrowIpcFormatError,
    ),
    "orc_lz4": (
        _orc_lz4_region([b"orc chunk " * 80, bytes(range(256)) * 2]),
        lambda b: decompress_region(bytes(b), 4),
        OrcFormatError,
    ),
    # OrcFormatError, OrcReadError and the decompressor's error share
    # one base
    "orc_full": (_orc_file(), read_orc_columns, DBPSInvalidInputError),
    "zstd_compressed": (
        _zstd_checksummed_frame(bytes(range(256)) * 6 + b"zstd " * 100),
        parse_zstd_frames,
        ZstdFormatError,
    ),
}

ONLY = set(sys.argv[2:])
if ONLY:
    BASES = {k: v for k, v in BASES.items() if k in ONLY}

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10000
bad = 0
for fmt, (base, dec, err) in BASES.items():
    # 1) byte mutations
    for trial in range(N):
        data = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            data[rng.randint(len(data))] = rng.randint(256)
        try:
            dec(bytes(data))
        except err:
            pass
        except Exception as e:
            bad += 1
            print(f"[{fmt}] NON-DOMAIN {type(e).__name__}: {e}")
            print("  seed-trial", trial)
            traceback.print_exc(limit=3)
            if bad > 10: sys.exit(1)
    # 2) truncations + extensions
    for cut in range(0, len(base)):
        for blob in (base[:cut], base + bytes(cut % 7)):
            try:
                dec(bytes(blob))
            except err:
                pass
            except Exception as e:
                bad += 1
                print(f"[{fmt}] trunc/ext NON-DOMAIN {type(e).__name__}: {e} (cut={cut})")
                if bad > 10: sys.exit(1)
    # 3) cross-codec confusion: feed every other format's bytes
    for other, (ob, _, _) in BASES.items():
        if other == fmt: continue
        try:
            dec(bytes(ob))
        except err:
            pass
        except Exception as e:
            bad += 1
            print(f"[{fmt}] fed {other}: NON-DOMAIN {type(e).__name__}: {e}")
            if bad > 10: sys.exit(1)
    print(f"{fmt}: clean ({N} mutations, {2*len(base)} trunc/ext, {len(BASES)-1} confusion)", flush=True)
print("TOTAL non-domain escapes:", bad)
