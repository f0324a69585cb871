"""Cross-codec robustness battery.

A web-scale corpus WILL contain corrupt media; every decoder must either
decode or raise its own format error — never hang, never escape with an
arbitrary exception (an IndexError deep inside a mapInPandas stage kills
the whole task set with an undiagnosable traceback). Same contract the
JPEG fuzz tests pin in test_jpegcodec.py, applied to every codec.
"""

import numpy as np
import pytest

from databatchprotectionservice_spark.core.arrowipc import (
    ArrowIpcFormatError,
    read_arrow_stream,
)
from databatchprotectionservice_spark.core.audiocodec import (
    AudioFormatError,
    decode_wav,
    decode_wav_adpcm,
    encode_wav,
    encode_wav_adpcm,
)
from databatchprotectionservice_spark.core.errors import (
    DBPSInvalidInputError,
)
from databatchprotectionservice_spark.core.flaccodec import (
    FlacFormatError,
    decode_flac,
    encode_flac,
)
from databatchprotectionservice_spark.core.gifcodec import (
    GRAY_PALETTE,
    GifFormatError,
    decode_gif,
    encode_gif,
)
from databatchprotectionservice_spark.core.imagecodec import (
    ImageFormatError,
    decode_image,
    encode_bmp,
    encode_png,
    encode_png_adam7,
    encode_png_palette,
    encode_ppm,
)
from databatchprotectionservice_spark.core.orcmeta import (
    OrcFormatError,
    decompress_region,
)
from databatchprotectionservice_spark.core.orcread import read_orc_columns
from databatchprotectionservice_spark.core.videocodec import (
    VideoFormatError,
    decode_y4m,
    encode_y4m,
)


def _orc_lz4_region() -> bytes:
    """Two ORC chunks of raw liblz4 blocks behind 3-byte headers."""
    import pyarrow as pa

    out = b""
    for part in (b"orc chunk " * 40, bytes(range(200))):
        blk = pa.compress(part, codec="lz4_raw", asbytes=True)
        out += (len(blk) << 1).to_bytes(3, "little") + blk
    return out


def _arrow_lz4_stream() -> bytes:
    """int64 + utf8 in one lz4-compressed Arrow IPC stream batch."""
    import io

    import pyarrow as pa

    t = pa.table(
        {
            "a": pa.array([i % 7 for i in range(60)], pa.int64()),
            "s": pa.array(["lz4 " * (i % 5) for i in range(60)]),
        }
    )
    buf = io.BytesIO()
    opts = pa.ipc.IpcWriteOptions(compression="lz4")
    with pa.ipc.new_stream(buf, t.schema, options=opts) as w:
        w.write_table(t)
    return buf.getvalue()


def _orc_file() -> bytes:
    """A whole uncompressed ORC file: 200 rows of int64 + nullable
    strings, for the full reader (footer, stripes, RLE, strings)."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc

    t = pa.table(
        {
            "a": pa.array(range(200), pa.int64()),
            "s": pa.array(
                [None if i % 9 == 0 else f"row {i}" for i in range(200)]
            ),
        }
    )
    buf = io.BytesIO()
    orc.write_table(t, buf, compression="uncompressed")
    return buf.getvalue()


def _bases():
    rng = np.random.RandomState(1)
    img = rng.randint(0, 256, size=(6, 7, 3), dtype=np.uint8)
    return {
        "png": (encode_png(img), decode_image, ImageFormatError),
        "bmp": (encode_bmp(img), decode_image, ImageFormatError),
        "ppm": (encode_ppm(img), decode_image, ImageFormatError),
        "gif": (
            encode_gif(img[:, :, 0], GRAY_PALETTE),
            decode_gif,
            GifFormatError,
        ),
        "wav": (
            encode_wav(np.arange(-50, 50, dtype=np.int16)),
            decode_wav,
            AudioFormatError,
        ),
        "adpcm": (
            encode_wav_adpcm(np.arange(-400, 400, 2, dtype=np.int16)),
            decode_wav_adpcm,
            AudioFormatError,
        ),
        "flac": (
            encode_flac(
                ((np.arange(700) * 17 + 3) % 65536 - 32768).astype(np.int16)
            ),
            decode_flac,
            FlacFormatError,
        ),
        "png_adam7": (
            encode_png_adam7(img),
            decode_image,
            ImageFormatError,
        ),
        "png_palette": (
            encode_png_palette((img // 64) * 64),
            decode_image,
            ImageFormatError,
        ),
        "y4m": (
            encode_y4m(
                rng.randint(0, 256, size=(2, 3, 4, 4), dtype=np.uint8)
            ),
            decode_y4m,
            VideoFormatError,
        ),
        "arrow_lz4": (
            _arrow_lz4_stream(),
            read_arrow_stream,
            ArrowIpcFormatError,
        ),
        "orc_lz4": (
            _orc_lz4_region(),
            lambda b: decompress_region(b, 4),
            OrcFormatError,
        ),
        # parse_orc_meta + read_orc_columns raise OrcFormatError,
        # OrcReadError or the decompressor's error: all share this base
        "orc_full": (_orc_file(), read_orc_columns, DBPSInvalidInputError),
    }


@pytest.mark.parametrize(
    "fmt",
    ["png", "png_adam7", "png_palette", "bmp", "ppm", "gif", "wav",
     "adpcm", "flac", "y4m", "arrow_lz4", "orc_lz4", "orc_full"],
)
def test_mutations_decode_or_raise_domain_error(fmt):
    base, dec, err = _bases()[fmt]
    rng = np.random.RandomState(97)
    for trial in range(300):
        data = bytearray(base)
        for _ in range(rng.randint(1, 4)):
            data[rng.randint(len(data))] = rng.randint(256)
        try:
            dec(bytes(data))
        except err:
            pass  # the domain error IS the contract


@pytest.mark.parametrize(
    "fmt",
    ["png", "png_adam7", "png_palette", "bmp", "ppm", "gif", "wav",
     "adpcm", "flac", "y4m", "arrow_lz4", "orc_lz4", "orc_full"],
)
def test_truncations_decode_or_raise_domain_error(fmt):
    base, dec, err = _bases()[fmt]
    for cut in range(0, len(base), 3):
        try:
            dec(base[:cut])
        except err:
            pass
