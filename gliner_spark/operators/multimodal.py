"""Multimodal asset columns: opaque `binary` payloads + typed metadata.

The image/audio/video codec LIBRARIES are not installed in this container
(and the reference has no multimodal path), so three decoder tiers exist:
`decoder="fake"` produces deterministic hash-derived features with the
real batch shape; `decoder="bmp"`, `decoder="png"` and `decoder="wav"`
are REAL decodes — numpy parsers for 24-bit uncompressed BMP (header
fields, bottom-up rows, 4-byte stride padding), 8-bit truecolor PNG
(chunk walk + CRC-32, stdlib-zlib inflate, all five scanline filters)
and RIFF/WAVE PCM-16 (chunk walk, int16 samples) with true pixel/sample
math in resize/resample/features; `decoder="real"` raises
NotImplementedError at the exact point where PIL/librosa/av would be
called for the formats that genuinely need codec libraries.
Everything AROUND the decode — schema, Arrow batch plumbing, mapInPandas
iterator signature, partition behavior, feature schema — is shared by
all tiers, so swapping in a library decoder on a cluster with the libs
installed is a one-function change.

Design: assets are (asset_id, kind, data: binary, meta: map<string,string>).
Feature extraction is mapInPandas (iterator of DataFrames — Arrow batches)
so payload bytes never round-trip through Python row objects, and batch
size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch rather
than partition size (a partition of 4 GB videos still streams in bounded
memory).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("data", T.BinaryType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)

_FEATURE_DIM = 16


_PAYLOAD_BYTES = 64  # power of two: histogram/64 is exact in float32 AND
# double, so the fake-feature values are bit-identical across engines


def synth_asset_byte(asset_id, i, seed: int = 42):
    """Byte i of asset `asset_id`'s payload: a plain LCG-style mix,
    (a·id + b·i + c) mod 256 — ARITHMETIC on purpose, so a DuckDB oracle
    can regenerate the exact payload (xxhash64 payloads would make the
    whole multimodal path un-oracle-able, which is how r01's query ended
    up rows-only)."""
    a, b, c = 2654435761, 40503, seed * 97 + 13
    return F.pmod(
        F.lit(a) * asset_id + F.lit(b) * F.lit(i) + F.lit(c), F.lit(256)
    )


def synth_assets(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic synthetic binary assets — 64-byte payloads from the
    cross-engine arithmetic generator (unhex of concatenated byte hex)."""
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    base = spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.element_at(
            kinds, (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int")
        ).alias("kind"),
        F.unhex(
            F.concat(
                *[
                    F.lpad(
                        F.hex(synth_asset_byte(F.col("id"), i, seed)), 2, "0"
                    )
                    for i in range(_PAYLOAD_BYTES)
                ]
            )
        ).alias("data"),
    )
    return base.withColumn(
        "meta",
        F.create_map(
            F.lit("codec"), F.lit("synthetic"), F.lit("v"), F.lit("1")
        ),
    )


# --------------------------------------------------------------- BMP codec
# numpy-only 24-bit uncompressed BMP: the one mainstream image container
# that needs no codec library, so the "real decode" integration path can
# be exercised end-to-end (true header parsing + pixel math) in this
# container. PIL/librosa/av formats keep the NotImplementedError marker.


def encode_bmp(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit uncompressed BMP bytes
    (BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up rows, BGR order,
    rows padded to 4 bytes)."""
    import struct

    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    img_size = stride * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = np.zeros((h, stride), dtype=np.uint8)
    bgr = px[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + info + rows.tobytes()


def decode_bmp(buf: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes → (h, w, 3) uint8 RGB. Handles the
    pixel-array offset field, negative (top-down) heights, and row
    stride padding; rejects other bit depths / compressions loudly."""
    import struct

    buf = bytes(buf)
    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    off = struct.unpack_from("<I", buf, 10)[0]
    _hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", buf, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={comp})"
        )
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    arr = np.frombuffer(
        buf, dtype=np.uint8, count=stride * h, offset=off
    ).reshape(h, stride)
    px = arr[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    if bottom_up:
        px = px[::-1]
    return np.ascontiguousarray(px)


def nn_resize(px: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample (the PIL.Image.NEAREST rule:
    src_index = floor(dst_index · src/dst))."""
    h, w, _ = px.shape
    yi = (np.arange(height) * h) // height
    xi = (np.arange(width) * w) // width
    return px[yi][:, xi]


def _synth_pixels(asset_id: int, width: int, height: int, seed: int) -> np.ndarray:
    """Deterministic per-asset RGB test pattern (plain arithmetic —
    recomputable anywhere, same spirit as synth_asset_byte)."""
    y, x = np.mgrid[0:height, 0:width]
    base = (2654435761 * asset_id + seed * 97) % 256
    px = np.stack(
        [
            (base + 17 * x + 29 * y) % 256,
            (base + 31 * x + 7 * y + 101) % 256,
            (base + 5 * x + 53 * y + 191) % 256,
        ],
        axis=-1,
    )
    return px.astype(np.uint8)


def synth_bmp_assets(
    spark: SparkSession, n: int, width: int = 8, height: int = 6,
    seed: int = 42,
) -> DataFrame:
    """n real BMP image assets (kind='image'), generated distributed via
    mapInPandas over spark.range — payloads are genuine BMP files the
    decode path must actually parse."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "kind": ["image"] * len(ids),
                    "data": [
                        encode_bmp(_synth_pixels(i, width, height, seed))
                        for i in ids
                    ],
                    "meta": [
                        {"codec": "bmp", "w": str(width), "h": str(height)}
                    ]
                    * len(ids),
                }
            )

    return spark.range(n).mapInPandas(gen, ASSET_SCHEMA)


# --------------------------------------------------------------- WAV codec
# numpy-only RIFF/WAVE PCM-16: the audio analog of the BMP path — a real
# container parse (chunk walk, fmt validation, int16 samples) with no
# codec library, closing the audio decode tier the same way BMP closed
# images. Compressed formats (mp3/ogg/aac) keep the NotImplementedError
# marker at the librosa/av integration point.


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n,) or (n, ch) int16 PCM → RIFF/WAVE bytes (fmt chunk: PCM,
    16-bit, interleaved channels; data chunk: little-endian samples)."""
    import struct

    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.reshape(-1).tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, ch, sample_rate, byte_rate, ch * 2, 16
    )
    hdr = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes → ((n, ch) int16 samples, sample_rate). Walks the
    chunk list (fmt may be followed by LIST/fact chunks before data);
    rejects non-PCM / non-16-bit loudly."""
    import struct

    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(buf):
        cid, size = struct.unpack_from("<4sI", buf, pos)
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, ch, sample_rate, _br, _ba, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"only PCM-16 WAV supported (format={audio_format}, bits={bits})"
        )
    s = np.frombuffer(data, dtype="<i2")
    n = s.size // ch
    return s[: n * ch].reshape(n, ch), sample_rate


def resample_pcm(samples: np.ndarray, n_out: int) -> np.ndarray:
    """Nearest-sample resample by index arithmetic (the 1-D analog of
    nn_resize: src_index = floor(dst_index · n/n_out))."""
    n = samples.shape[0]
    idx = (np.arange(n_out) * n) // n_out
    return samples[idx]


def synth_wav_sample(asset_id: int, i: int, seed: int = 42) -> int:
    """Sample i of asset `asset_id`: arithmetic LCG-style mix into the
    int16 range — same cross-engine-recomputable design as
    synth_asset_byte, so a DuckDB oracle can regenerate the exact
    waveform and the REAL decode path is value-checkable."""
    a, b, c = 2654435761, 40503, seed * 97 + 13
    return ((a * asset_id + b * i + c) % 65536) - 32768


def synth_wav_assets(
    spark: SparkSession, n: int, n_samples: int = 256,
    sample_rate: int = 8000, seed: int = 42,
) -> DataFrame:
    """n real PCM-16 WAV assets (kind='audio') — payloads are genuine
    RIFF files the decode path must actually parse; waveforms come from
    the arithmetic generator above."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b, c = 2654435761, 40503, seed * 97 + 13
        i = np.arange(n_samples, dtype=np.int64)
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "kind": ["audio"] * len(ids),
                    "data": [
                        encode_wav(
                            (((a * aid + b * i + c) % 65536) - 32768).astype(
                                np.int16
                            ),
                            sample_rate,
                        )
                        for aid in ids
                    ],
                    "meta": [
                        {
                            "codec": "wav",
                            "sr": str(sample_rate),
                            "n": str(n_samples),
                        }
                    ]
                    * len(ids),
                }
            )

    return spark.range(n).mapInPandas(gen, ASSET_SCHEMA)


# --------------------------------------------------------------- PNG codec
# stdlib-zlib + numpy PNG (8-bit truecolor, color type 2): unlike BMP,
# PNG is a COMPRESSED container, so this path exercises a real
# inflate-then-unfilter pipeline — chunk walk with CRC-32 verification,
# zlib decompress, and all FIVE scanline filter types (None/Sub/Up/
# Average/Paeth, PNG spec §6) — with nothing beyond the standard
# library. The encoder deliberately cycles the filter type per row
# ("mixed") so every round-trip drives every unfilter branch.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor (spec §6.6), elementwise over channel vectors:
    pick whichever of left/up/up-left is closest to a+b-c, ties in
    left→up→up-left order."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_filter_row(row: np.ndarray, prev: np.ndarray, ft: int) -> np.ndarray:
    """Filter one RECONSTRUCTED scanline (w, 3) against the previous
    reconstructed row → filtered bytes (flat, mod 256). Encoding is fully
    vectorized: left/up/up-left are known reconstructed values."""
    left = np.zeros_like(row)
    left[1:] = row[:-1]
    if ft == 0:
        out = row
    elif ft == 1:  # Sub
        out = row - left
    elif ft == 2:  # Up
        out = row - prev
    elif ft == 3:  # Average
        out = row - (left + prev) // 2
    elif ft == 4:  # Paeth
        upleft = np.zeros_like(prev)
        upleft[1:] = prev[:-1]
        out = row - _paeth(left, prev, upleft)
    else:
        raise ValueError(f"bad PNG filter type {ft}")
    return (out % 256).reshape(-1)


def _png_unfilter_row(filt: np.ndarray, prev: np.ndarray, ft: int) -> np.ndarray:
    """Invert one scanline filter: filtered (w, 3) ints + previous
    reconstructed row → reconstructed row. Sub is an exact per-channel
    cumulative sum mod 256 (recon[x] = filt[x] + recon[x-1]); Average and
    Paeth carry a true left-pixel recurrence, walked per pixel."""
    if ft == 0:
        return filt % 256
    if ft == 2:  # Up
        return (filt + prev) % 256
    if ft == 1:  # Sub
        return np.cumsum(filt, axis=0) % 256
    w = filt.shape[0]
    out = np.zeros_like(filt)
    zero = np.zeros(filt.shape[1], dtype=filt.dtype)
    for x in range(w):
        left = out[x - 1] if x else zero
        if ft == 3:  # Average
            out[x] = (filt[x] + (left + prev[x]) // 2) % 256
        elif ft == 4:  # Paeth
            upleft = prev[x - 1] if x else zero
            out[x] = (filt[x] + _paeth(left, prev[x], upleft)) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
    return out


def encode_png(px: np.ndarray, filter_mode: str = "mixed") -> bytes:
    """(h, w, 3) uint8 RGB → PNG bytes (8-bit truecolor, non-interlaced,
    one zlib-compressed IDAT). filter_mode="mixed" cycles the scanline
    filter (row % 5) so decoding the payload exercises all five PNG
    filters; "none" writes filter 0 everywhere."""
    import struct
    import zlib

    h, w, _ = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = px.astype(np.int64)
    prev = np.zeros((w, 3), dtype=np.int64)
    lines = []
    for y in range(h):
        ft = (y % 5) if filter_mode == "mixed" else 0
        lines.append(
            bytes([ft])
            + _png_filter_row(raw[y], prev, ft).astype(np.uint8).tobytes()
        )
        prev = raw[y]
    idat = zlib.compress(b"".join(lines), 9)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(buf: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8 RGB. Real container parse: signature,
    chunk walk with CRC-32 verification, multi-IDAT concatenation, zlib
    inflate, per-scanline unfiltering (all five filter types). Rejects
    non-8-bit / non-truecolor / interlaced images loudly."""
    import struct
    import zlib

    buf = bytes(buf)
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos = 8
    ihdr = None
    idat = []
    while pos + 12 <= len(buf):
        ln, ctype = struct.unpack_from(">I4s", buf, pos)
        body = buf[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + ln)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color, comp, filt, interlace = ihdr
    if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            "only 8-bit truecolor non-interlaced PNG supported "
            f"(depth={depth}, color_type={color}, interlace={interlace})"
        )
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (1 + w * 3):
        raise ValueError(
            f"decompressed stream is {len(raw)} bytes, "
            f"expected {h * (1 + w * 3)}"
        )
    stream = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + w * 3)
    out = np.zeros((h, w, 3), dtype=np.int64)
    prev = np.zeros((w, 3), dtype=np.int64)
    for y in range(h):
        prev = _png_unfilter_row(
            stream[y, 1:].reshape(w, 3).astype(np.int64), prev, int(stream[y, 0])
        )
        out[y] = prev
    return out.astype(np.uint8)


def synth_png_assets(
    spark: SparkSession, n: int, width: int = 8, height: int = 6,
    seed: int = 42,
) -> DataFrame:
    """n real PNG image assets (kind='image') — the SAME deterministic
    pixel pattern as synth_bmp_assets (_synth_pixels), so BMP and PNG
    decodes of the same asset_id must agree pixel-for-pixel and one
    arithmetic oracle checks both containers."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "kind": ["image"] * len(ids),
                    "data": [
                        encode_png(_synth_pixels(i, width, height, seed))
                        for i in ids
                    ],
                    "meta": [
                        {"codec": "png", "w": str(width), "h": str(height)}
                    ]
                    * len(ids),
                }
            )

    return spark.range(n).mapInPandas(gen, ASSET_SCHEMA)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("sum_r", T.LongType(), False),
        T.StructField("sum_g", T.LongType(), False),
        T.StructField("sum_b", T.LongType(), False),
        T.StructField("mean_rgb", T.DoubleType(), False),
        T.StructField("min_rgb", T.IntegerType(), False),
        T.StructField("max_rgb", T.IntegerType(), False),
    ]
)

_IMAGE_DECODERS = {"bmp": decode_bmp, "png": decode_png}


def image_stats(assets: DataFrame, decoder: str = "bmp") -> DataFrame:
    """image assets → per-asset pixel statistics through a REAL container
    parse (BMP or PNG — the image analog of audio_stats). Every value is
    exact integer arithmetic until the single mean division, so a SQL
    oracle regenerating the pixel pattern matches to float64: any
    header/filter/stride/CRC mistake shifts every sum."""
    if decoder == "real":
        raise NotImplementedError(
            "compressed-image decoders (PIL/av) are not installed in this "
            "container; use decoder='bmp' or 'png'"
        )
    decode = _IMAGE_DECODERS[decoder]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs = pdf[pdf["kind"] == "image"]
            if imgs.empty:
                continue
            out = {k: [] for k in IMAGE_STATS_SCHEMA.names}
            for aid, buf in zip(imgs["asset_id"], imgs["data"]):
                px = decode(buf).astype(np.int64)
                h, w, _ = px.shape
                sums = px.reshape(-1, 3).sum(axis=0)
                srgb = px.sum(axis=-1)  # per-pixel r+g+b, exact ints
                out["asset_id"].append(int(aid))
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
                out["mean_rgb"].append(float(sums.sum()) / (3 * h * w))
                out["min_rgb"].append(int(srgb.min()))
                out["max_rgb"].append(int(srgb.max()))
            yield pd.DataFrame(out)

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, IMAGE_STATS_SCHEMA
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("mean_amp", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("min_amp", T.IntegerType(), False),
        T.StructField("max_amp", T.IntegerType(), False),
        T.StructField("n_zero_cross", T.IntegerType(), False),
    ]
)


def audio_stats(assets: DataFrame, decoder: str = "wav") -> DataFrame:
    """audio assets → per-asset waveform statistics through the REAL WAV
    parse (mono mix when multichannel): mean, RMS, min/max, strict
    sign-change zero crossings. Every value is exact integer arithmetic
    until the final division/sqrt, so a SQL oracle regenerating the
    arithmetic waveform matches to float64."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decoder == "real":
            raise NotImplementedError(
                "compressed-audio decoders (librosa/av) are not installed "
                "in this container; use decoder='wav'"
            )
        for pdf in batches:
            auds = pdf[pdf["kind"] == "audio"]
            if auds.empty:
                continue
            out = {k: [] for k in AUDIO_STATS_SCHEMA.names}
            for aid, buf in zip(auds["asset_id"], auds["data"]):
                s, sr = decode_wav(buf)
                mono = s[:, 0].astype(np.int64) if s.shape[1] == 1 else (
                    s.astype(np.int64).sum(axis=1) // s.shape[1]
                )
                n = mono.size
                sgn = np.sign(mono)
                nz = sgn != 0
                zc = int(np.count_nonzero(np.diff(sgn[nz]) != 0))
                out["asset_id"].append(int(aid))
                out["sample_rate"].append(int(sr))
                out["n_samples"].append(n)
                out["mean_amp"].append(float(mono.sum()) / max(n, 1))
                out["rms"].append(
                    float(np.sqrt(float((mono * mono).sum()) / max(n, 1)))
                )
                out["min_amp"].append(int(mono.min()) if n else 0)
                out["max_amp"].append(int(mono.max()) if n else 0)
                out["n_zero_cross"].append(zc)
            yield pd.DataFrame(out)

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, AUDIO_STATS_SCHEMA
    )


RESAMPLED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),
    ]
)


def resample_audio(
    assets: DataFrame, target_rate: int, decoder: str = "wav"
) -> DataFrame:
    """Audio resample as a mapInPandas stage: REAL parse → index-
    arithmetic nearest-sample resample → re-encode at target_rate (the
    audio analog of resize_images' decoder='bmp' tier)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decoder == "real":
            raise NotImplementedError(
                "compressed-audio decoders (librosa/av) are not installed "
                "in this container; use decoder='wav'"
            )
        for pdf in batches:
            auds = pdf[pdf["kind"] == "audio"]
            if auds.empty:
                continue
            out = {k: [] for k in RESAMPLED_SCHEMA.names}
            for aid, buf in zip(auds["asset_id"], auds["data"]):
                s, sr = decode_wav(buf)
                n_out = max(int(round(s.shape[0] * target_rate / sr)), 1)
                rs = resample_pcm(s, n_out)
                out["asset_id"].append(int(aid))
                out["sample_rate"].append(target_rate)
                out["n_samples"].append(n_out)
                out["data"].append(encode_wav(rs, target_rate))
            yield pd.DataFrame(out)

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, RESAMPLED_SCHEMA
    )


def _fake_decode(data: pd.Series, kind: pd.Series) -> np.ndarray:
    """Deterministic stand-in features: bytes → normalized histogram-ish
    vector. Vectorized over the batch; same output on every run/engine."""
    out = np.zeros((len(data), _FEATURE_DIM), dtype=np.float32)
    for i, buf in enumerate(data):  # ragged bytes; per-batch loop, tiny
        arr = np.frombuffer(buf, dtype=np.uint8)
        hist = np.bincount(arr % _FEATURE_DIM, minlength=_FEATURE_DIM)
        out[i] = hist / max(arr.size, 1)
    return out


def _image_features(data: pd.Series, decode) -> np.ndarray:
    """True decoded-pixel features per image payload: [w, h, per-channel
    means (3), per-channel stds (3), 8-bin gray histogram] = 16 dims.
    `decode` is decode_bmp or decode_png — identical math either way."""
    out = np.zeros((len(data), _FEATURE_DIM), dtype=np.float32)
    for i, buf in enumerate(data):
        px = decode(buf).astype(np.float32)
        h, w, _ = px.shape
        gray = px.mean(axis=-1)
        hist = np.histogram(gray, bins=8, range=(0.0, 256.0))[0]
        out[i, 0] = w
        out[i, 1] = h
        out[i, 2:5] = px.reshape(-1, 3).mean(axis=0)
        out[i, 5:8] = px.reshape(-1, 3).std(axis=0)
        out[i, 8:16] = hist / gray.size
    return out


def extract_features(
    assets: DataFrame, decoder: str = "fake"
) -> DataFrame:
    """assets → (asset_id, kind, n_bytes, feature[16]) via mapInPandas.

    decoder="bmp"/"png" actually parse the payload (numpy codecs above)
    and compute pixel statistics; decoder="real" marks the integration
    point for PIL/librosa/av — intentionally NotImplemented in this
    environment."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                raise NotImplementedError(
                    "real decoders (PIL/librosa/av) are not installed in "
                    "this container; use decoder='fake', 'bmp' or 'png'"
                )
            if decoder in _IMAGE_DECODERS:
                feats = _image_features(pdf["data"], _IMAGE_DECODERS[decoder])
            else:
                feats = _fake_decode(pdf["data"], pdf["kind"])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["data"].str.len().astype("int32"),
                    "feature": list(feats),
                }
            )

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, FEATURE_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),
    ]
)


def resize_images(
    assets: DataFrame, width: int = 224, height: int = 224,
    decoder: str = "fake",
) -> DataFrame:
    """Image resize as a mapInPandas stage.

    decoder="bmp"/"png": REAL resize — parse the payload, nearest-
    neighbor resample the pixel grid, re-encode in the same container at
    the target size (true pixel math, numpy codecs above). decoder="fake"
    emits a deterministic payload of the TARGET size (hash-expanded
    bytes) so downstream batch-shape/memory behavior — the Spark-side
    contract — is exercised with production-shaped data even for formats
    whose codecs are absent. decoder="real" is the PIL.Image.resize
    integration point (NotImplemented here)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decoder == "real":
            raise NotImplementedError(
                "PIL is not installed in this container; use "
                "decoder='fake', 'bmp' or 'png'"
            )
        n_bytes = width * height
        encode = {"bmp": encode_bmp, "png": encode_png}.get(decoder)
        for pdf in batches:
            imgs = pdf[pdf["kind"] == "image"]
            if imgs.empty:
                continue
            out_payloads = []
            for buf in imgs["data"]:
                if decoder in _IMAGE_DECODERS:
                    out_payloads.append(
                        encode(
                            nn_resize(
                                _IMAGE_DECODERS[decoder](buf), width, height
                            )
                        )
                    )
                else:
                    seed = np.frombuffer(
                        buf[:8].ljust(8, b"\0"), dtype=np.uint64
                    )[0]
                    rng = np.random.RandomState(int(seed % (2**32)))
                    out_payloads.append(rng.bytes(n_bytes))
            yield pd.DataFrame(
                {
                    "asset_id": imgs["asset_id"].values,
                    "width": np.full(len(imgs), width, dtype=np.int32),
                    "height": np.full(len(imgs), height, dtype=np.int32),
                    "data": out_payloads,
                }
            )

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, RESIZED_SCHEMA
    )


# --------------------------------------------------------------- AVI codec
# numpy-only RIFF/AVI with uncompressed 'DIB ' frames: the VIDEO analog
# of the BMP/WAV paths — a real container parse (RIFF chunk walk,
# avih/strf headers, ordered '00db' frame chunks, each frame a
# bottom-up BGR stride-padded pixel array exactly like the BMP body).
# Compressed codecs (h264/vp9) keep the NotImplementedError marker
# (the PyAV integration point, decoder="real").


def encode_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """(n, h, w, 3) uint8 RGB → minimal RIFF/AVI bytes (hdrl with
    avih + one 'vids'/'DIB ' stream, movi list of '00db' frames)."""
    import struct

    n, h, w, _ = frames.shape
    stride = (w * 3 + 3) & ~3
    frame_size = stride * h

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def lst(subtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", subtype + body)

    avih = struct.pack(
        "<14I",
        # µs/frame, bytes/s, padding, flags (no idx1 list → no HASINDEX)
        1_000_000 // fps, frame_size * fps, 0, 0,
        n, 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps, 0, n, frame_size, 0, 0,
        0, 0, int(w), int(h),
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0
    )

    def frame_bytes(px: np.ndarray) -> bytes:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)
        return rows.tobytes()

    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", frame_bytes(f)) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/AVI bytes → ((n, h, w, 3) uint8 RGB frames, fps). Walks the
    chunk tree (LIST recursion, odd-size padding), reads dimensions and
    frame timing from avih, validates 24-bit uncompressed via strf, and
    unpacks every '00db'/'00dc' DIB frame (bottom-up BGR, stride 4);
    rejects other layouts loudly."""
    import struct

    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (missing RIFF/AVI magic)")
    hdr: dict = {}
    payloads: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            size = struct.unpack_from("<I", buf, pos + 4)[0]
            body = pos + 8
            if tag == b"LIST":
                walk(body + 4, body + size)
            elif tag == b"avih":
                (usec, _, _, _, n, _, _, _, w, h) = struct.unpack_from(
                    "<10I", buf, body
                )
                hdr.update(usec=usec, n=n, w=w, h=h)
            elif tag == b"strf":
                _hsz, _w, _h, _pl, bpp, comp = struct.unpack_from(
                    "<IiiHHI", buf, body
                )
                if bpp != 24 or comp != 0:
                    raise ValueError(
                        f"only 24-bit uncompressed AVI supported "
                        f"(bpp={bpp}, compression={comp})"
                    )
            elif tag in (b"00db", b"00dc"):
                payloads.append(buf[body : body + size])
            pos = body + size + (size & 1)

    walk(12, len(buf))
    if "w" not in hdr:
        raise ValueError("AVI missing avih header")
    w, h = hdr["w"], hdr["h"]
    stride = (w * 3 + 3) & ~3
    frames = np.empty((len(payloads), h, w, 3), dtype=np.uint8)
    for i, p in enumerate(payloads):
        arr = np.frombuffer(p, dtype=np.uint8, count=stride * h).reshape(
            h, stride
        )
        frames[i] = arr[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]
    fps = round(1_000_000 / hdr["usec"]) if hdr["usec"] else 0
    return frames, fps


def synth_avi_assets(
    spark: SparkSession, n: int, n_frames: int = 4,
    width: int = 8, height: int = 6, fps: int = 10, seed: int = 42,
) -> DataFrame:
    """n real AVI video assets (kind='video'): frame f of asset i is
    `_synth_pixels(i * 131 + f, …)` — the same arithmetic pattern the
    BMP/PNG oracles replay, shifted per frame so frame ORDER is
    value-checked (a swapped or dropped frame shifts the motion sum)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "kind": ["video"] * len(ids),
                    "data": [
                        encode_avi(
                            np.stack(
                                [
                                    _synth_pixels(
                                        i * 131 + f, width, height, seed
                                    )
                                    for f in range(n_frames)
                                ]
                            ),
                            fps,
                        )
                        for i in ids
                    ],
                    "meta": [
                        {
                            "codec": "avi",
                            "w": str(width),
                            "h": str(height),
                            "frames": str(n_frames),
                        }
                    ]
                    * len(ids),
                }
            )

    return spark.range(n).mapInPandas(gen, ASSET_SCHEMA)


VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("fps", T.IntegerType(), False),
        T.StructField("sum_rgb", T.LongType(), False),
        T.StructField("mean_rgb", T.DoubleType(), False),
        T.StructField("motion_sum", T.LongType(), False),
    ]
)


def video_stats(assets: DataFrame, decoder: str = "avi") -> DataFrame:
    """video assets → per-asset statistics through the REAL AVI parse:
    frame count/dims/fps from the headers, exact integer pixel sum over
    all frames, and motion_sum = Σ_f Σ_px |frame_f − frame_{f−1}| —
    order-sensitive, so a swapped/dropped/duplicated frame is caught by
    the oracle, not just a bad pixel walk."""
    if decoder == "real":
        raise NotImplementedError(
            "compressed-video decoders (PyAV) are not installed in this "
            "container; use decoder='avi'"
        )
    if decoder != "avi":
        raise ValueError(f"unknown video decoder: {decoder!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids = pdf[pdf["kind"] == "video"]
            if vids.empty:
                continue
            out = {k: [] for k in VIDEO_STATS_SCHEMA.names}
            for aid, buf in zip(vids["asset_id"], vids["data"]):
                frames, fps = decode_avi(buf)
                fi = frames.astype(np.int64)
                n, h, w, _ = fi.shape
                out["asset_id"].append(int(aid))
                out["n_frames"].append(n)
                out["width"].append(w)
                out["height"].append(h)
                out["fps"].append(fps)
                out["sum_rgb"].append(int(fi.sum()))
                out["mean_rgb"].append(float(fi.sum()) / fi.size)
                out["motion_sum"].append(
                    int(np.abs(fi[1:] - fi[:-1]).sum()) if n > 1 else 0
                )
            yield pd.DataFrame(out)

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, VIDEO_STATS_SCHEMA
    )


def resize_video(
    assets: DataFrame, width: int = 224, height: int = 224,
    decoder: str = "avi",
) -> DataFrame:
    """Per-frame video resize as a mapInPandas stage: REAL decode
    (decode_avi) → nearest-neighbor resample of every frame (the same
    nn_resize rule as images) → re-encode at the target size, fps and
    frame count preserved. decoder="real" is the PyAV integration point
    (NotImplemented here)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decoder == "real":
            raise NotImplementedError(
                "PyAV is not installed in this container; use "
                "decoder='avi'"
            )
        if decoder != "avi":
            raise ValueError(f"unknown video decoder: {decoder!r}")
        for pdf in batches:
            vids = pdf[pdf["kind"] == "video"]
            if vids.empty:
                continue
            out_payloads = []
            for buf in vids["data"]:
                frames, fps = decode_avi(buf)
                out_payloads.append(
                    encode_avi(
                        np.stack(
                            [nn_resize(f, width, height) for f in frames]
                        ),
                        fps or 1,
                    )
                )
            yield pd.DataFrame(
                {
                    "asset_id": vids["asset_id"].values,
                    "width": np.full(len(vids), width, dtype=np.int32),
                    "height": np.full(len(vids), height, dtype=np.int32),
                    "data": out_payloads,
                }
            )

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, RESIZED_SCHEMA
    )


def frame_sample_plan(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling PLAN: expands per-asset frame indices natively
    (metadata-driven; the decode of each sampled frame is the stubbed
    step). Demonstrates the explode-then-decode partition shape: sampling
    plan rows are tiny, so the shuffle (if any) moves indices, not bytes.
    Synthetic frame counts use the arithmetic generator (not xxhash64) so
    the plan is DuckDB-oracle-checkable."""
    n_frames = (
        F.pmod(F.lit(48271) * F.col("asset_id") + F.lit(11), F.lit(300)) + 1
    ).cast("int")
    return (
        assets.where(F.col("kind") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


# ----------------------------------------------------- perceptual hashing

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("bits", T.ArrayType(T.IntegerType()), False),
    ]
)


def image_phash_bits(
    assets: DataFrame, decoder: str = "bmp", hash_size: int = 8
) -> DataFrame:
    """Perceptual average-hash (the aHash of the pHash/aHash/dHash
    family) over REAL decoded pixels: decode (BMP or PNG codec) →
    nearest-neighbor resample to hash_size×hash_size → per-cell
    grayscale mean → bit = cell > image mean. Output
    (doc_id=asset_id, bits array<int>[hash_size²]) — the same bit-vector
    contract as dedup.simhash_bits, so the banded hamming machinery
    (dedup.simhash_candidates: pigeonhole n_bands = max_hamming+1,
    cappable buckets) is reused UNCHANGED for image near-dup at corpus
    scale.

    aHash is exactly invariant to uniform brightness shifts
    (cell > mean is shift-invariant; pinned in tests) and degrades
    gracefully under local pixel noise (hamming grows with the altered
    area). Pure map, zero shuffle. decoder="real" is the PIL
    integration point (NotImplemented in this container)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decoder == "real":
            raise NotImplementedError(
                "PIL is not installed in this container; use "
                "decoder='bmp' or 'png'"
            )
        dec = {"bmp": decode_bmp, "png": decode_png}.get(decoder)
        if dec is None:
            raise ValueError(f"unknown image decoder: {decoder!r}")
        for pdf in batches:
            imgs = pdf[pdf["kind"] == "image"]
            if imgs.empty:
                continue
            out_bits = []
            for buf in imgs["data"]:
                px = nn_resize(dec(bytes(buf)), hash_size, hash_size)
                gray = px.astype(np.float64).mean(axis=2)
                out_bits.append(
                    (gray > gray.mean()).astype(np.int32).ravel().tolist()
                )
            yield pd.DataFrame(
                {
                    "doc_id": imgs["asset_id"].astype("int64").values,
                    "bits": out_bits,
                }
            )

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, PHASH_SCHEMA
    )


def audio_fingerprint_bits(
    assets: DataFrame,
    decoder: str = "wav",
    n_frames: int = 17,
    n_bands: int = 5,
) -> DataFrame:
    """Haitsma–Kalker-style audio fingerprint over REAL decoded PCM
    ("A Highly Robust Audio Fingerprinting System", ISMIR 2002 — public
    algorithm): frame the waveform into n_frames windows, per-frame FFT
    power folded into n_bands geometric frequency bands, and

        bit(n, m) = 1  iff  (E[n,m] − E[n,m+1])
                            − (E[n−1,m] − E[n−1,m+1]) > 0

    (the published band-energy derivative sign). (n_frames−1)·
    (n_bands−1) bits — the defaults give 64, the same (doc_id, bits)
    contract as simhash_bits/image_phash_bits, so
    dedup.simhash_candidates' banded hamming join takes it unchanged.

    AMPLITUDE-SCALE-INVARIANT by construction: scaling the waveform by
    c scales every band energy by c², so every difference keeps its
    sign (pinned in tests with an exact ×2 int16 scaling). Pure map,
    zero shuffle. decoder="real" is the librosa integration point."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decoder == "real":
            raise NotImplementedError(
                "librosa is not installed in this container; use "
                "decoder='wav'"
            )
        if decoder != "wav":
            raise ValueError(f"unknown audio decoder: {decoder!r}")
        for pdf in batches:
            auds = pdf[pdf["kind"] == "audio"]
            if auds.empty:
                continue
            out_bits = []
            for buf in auds["data"]:
                samples, _sr = decode_wav(bytes(buf))
                s = samples.astype(np.float64)
                frame_len = max(len(s) // n_frames, 2)
                frames = s[: frame_len * n_frames].reshape(
                    n_frames, frame_len
                )
                spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                nbins = spec.shape[1] - 1  # skip DC
                edges = np.unique(
                    np.geomspace(1, nbins, n_bands + 1).astype(int)
                )
                while len(edges) < n_bands + 1:  # tiny frames: pad edges
                    edges = np.append(edges, edges[-1] + 1)
                e = np.stack(
                    [
                        spec[:, edges[b]: max(edges[b + 1], edges[b] + 1)]
                        .sum(axis=1)
                        for b in range(n_bands)
                    ],
                    axis=1,
                )  # (n_frames, n_bands)
                d = e[:, :-1] - e[:, 1:]  # band differences
                bits = (d[1:] - d[:-1] > 0).astype(np.int32).ravel()
                out_bits.append(bits.tolist())
            yield pd.DataFrame(
                {
                    "doc_id": auds["asset_id"].astype("int64").values,
                    "bits": out_bits,
                }
            )

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, PHASH_SCHEMA
    )


def video_phash_bits(
    assets: DataFrame, decoder: str = "avi", hash_size: int = 8
) -> DataFrame:
    """Video perceptual signature: per-frame aHash (same rule as
    image_phash_bits) folded by BIT-MAJORITY across frames — one
    hash_size² bit vector per video. Majority folding makes the
    signature robust to frame drops/reordering and inherits the
    per-frame brightness invariance; the (doc_id, bits) contract again
    feeds dedup.simhash_candidates unchanged. Pure map, zero shuffle.
    decoder="real" is the PyAV integration point."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if decoder == "real":
            raise NotImplementedError(
                "PyAV is not installed in this container; use "
                "decoder='avi'"
            )
        if decoder != "avi":
            raise ValueError(f"unknown video decoder: {decoder!r}")
        for pdf in batches:
            vids = pdf[pdf["kind"] == "video"]
            if vids.empty:
                continue
            out_bits = []
            for buf in vids["data"]:
                frames, _fps = decode_avi(bytes(buf))
                votes = np.zeros(hash_size * hash_size, dtype=np.int64)
                for f in frames:
                    px = nn_resize(f, hash_size, hash_size)
                    gray = px.astype(np.float64).mean(axis=2)
                    votes += (gray > gray.mean()).astype(np.int64).ravel()
                out_bits.append(
                    (votes * 2 > len(frames)).astype(np.int32).tolist()
                )
            yield pd.DataFrame(
                {
                    "doc_id": vids["asset_id"].astype("int64").values,
                    "bits": out_bits,
                }
            )

    return assets.select("asset_id", "kind", "data").mapInPandas(
        run, PHASH_SCHEMA
    )
