"""Multimodal (image/audio/video) column plumbing.

Media are opaque `binary` columns with typed metadata structs. Two
tiers:

1. **Metadata extraction — REAL and fully functional** (no codec
   needed): PNG/JPEG dimensions, WAV sample-rate/channels/duration,
   MP4 timescale/duration, all parsed from documented container-
   header offsets — PNG/WAV as pure Catalyst expressions (codegen at
   scan speed), JPEG/MP4 as Arrow-vectorized marker/box walks. This
   is the screen-and-meter stage a 100 TB media corpus runs BEFORE
   paying any decode.
2. **Pixel/sample decode — REAL for PNG, baseline JPEG, and PCM
   WAV** (stdlib + numpy, no codec library): PNG via zlib inflate +
   scanline unfiltering (decode_png_pixels), JPEG via a full T.81
   baseline decoder (functions/jpeg_codec.py — Huffman entropy
   decode, dequant, IDCT, 4:2:0 upsampling), WAV via a RIFF chunk
   walk + 8/16/24/32-bit PCM extraction (decode_wav_samples). Each
   has an oracled registry query with planted content replayed
   arithmetically in DuckDB. Only compressed audio/video codecs
   (MP3/AAC/H.264 — require PIL/librosa/ffmpeg, absent in this
   container) remain behind the decode_media hook, which raises
   NotImplementedError; the embedding-feature kernel uses a
   deterministic fake so the Arrow/mapInPandas plumbing stays
   end-to-end tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_mlops_spark.materialize import materialize

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8


def decode_media(content: bytes, media_type: str):
    """Real decode hook — requires PIL/librosa/ffmpeg, not present here."""
    raise NotImplementedError(
        "media codecs are not available in this environment; "
        "extract_features uses the deterministic fake path"
    )


def _fake_features(content: bytes, normalize: bool = True) -> list[float]:
    """Deterministic stand-in for an embedding model: fold the bytes
    into FEATURE_DIM polynomial accumulators (mod 1_000_003). Stable
    across runs/partitionings. ``normalize=False`` returns the raw
    integer accumulators (exactly representable as doubles), which an
    external SQL engine can reproduce — that is what lets the driver
    oracle the whole Arrow/mapInPandas path end-to-end."""
    acc = [0] * FEATURE_DIM
    for i, byt in enumerate(content or b""):
        acc[i % FEATURE_DIM] = (acc[i % FEATURE_DIM] * 31 + byt) % 1_000_003
    return [a / 1_000_003.0 for a in acc] if normalize else [float(a) for a in acc]


def extract_features(
    df: DataFrame,
    *,
    deterministic_stub: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """mapInPandas feature extraction over binary media columns.

    ``deterministic_stub=True`` (the ONLY mode that runs in this
    container) produces `_fake_features` — a deterministic byte-fold,
    NOT a learned embedding; the flag is named so no caller mistakes
    the output for model features. ``deterministic_stub=False`` routes
    through :func:`decode_media`, which raises until a real codec/
    model stack is installed (COVERAGE.md capability table).

    Arrow-batched: each pandas batch holds whole media blobs; batch size
    is bounded by spark.sql.execution.arrow.maxRecordsPerBatch, and
    media-heavy tables should be repartitioned so a batch fits executor
    memory (blobs are NOT splittable). Output keeps ids + metadata and
    appends a fixed-dim feature vector.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField(
                "features", T.ArrayType(T.DoubleType()), False
            ),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _fake_features(c, normalize)
                if deterministic_stub
                else decode_media(c, t)
                for c, t in zip(pdf["content"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "features": feats,
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


def resize_media(
    df: DataFrame,
    *,
    target_w: int,
    target_h: int,
    deterministic_stub: bool = True,
) -> DataFrame:
    """mapInPandas image resize over binary content columns.

    The real kernel would decode -> resample -> re-encode per blob
    (decode_media is the stubbed hook; PIL/ffmpeg absent here —
    ``deterministic_stub`` is named so no caller mistakes the output
    for resampled pixels). The
    fake path performs an honest decimation on the RAW bytes — stride-
    sample the buffer down to exactly target_w*target_h bytes (zero-pad
    short blobs) — so the Spark-side contract is fully exercised:
    Arrow batch shape, binary-in/binary-out schema, per-row output
    sizing, and partitioning invariance. Same batch-memory caveat as
    extract_features: blobs are not splittable; repartition media
    tables so maxRecordsPerBatch x median blob fits a task.
    """
    n_out = target_w * target_h
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("content", T.BinaryType(), False),
        ]
    )

    def _fake_resize(content: bytes) -> bytes:
        buf = content or b""
        if len(buf) >= n_out:
            stride = len(buf) / n_out
            return bytes(buf[int(i * stride)] for i in range(n_out))
        return buf + b"\x00" * (n_out - len(buf))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [
                _fake_resize(c)
                if deterministic_stub
                else decode_media(c, t)
                for c, t in zip(pdf["content"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "width": target_w,
                    "height": target_h,
                    "content": resized,
                }
            )

    return df.mapInPandas(batches, schema=out_schema)


# -- real (codec-free) metadata extraction ---------------------------------
#
# Image DIMENSIONS don't need a codec: they sit at documented offsets
# in the container header (PNG IHDR; JPEG SOF marker segment). Parsing
# them is the real first stage of any media pipeline — filter/bucket
# 100 TB of images by size BEFORE paying decode. These paths are fully
# functional here, unlike the pixel-decode hook above.

PNG_MAGIC_HEX = "89504E470D0A1A0A"


def png_dimensions(content_col):
    """PNG (width, height) as a pure-Catalyst expression: the IHDR
    chunk is mandatory-first, so width/height are the big-endian
    uint32s at byte offsets 16 and 20. hex() the blob once, slice the
    hex string, conv(16) — no UDF, runs inside codegen at scan speed.
    Returns a struct(width, height), null for non-PNG content."""
    h = F.hex(content_col)
    w = F.conv(F.substring(h, 33, 8), 16, 10).cast("int")
    ht = F.conv(F.substring(h, 41, 8), 16, 10).cast("int")
    return F.when(
        F.substring(h, 1, 16) == PNG_MAGIC_HEX,
        F.struct(w.alias("width"), ht.alias("height")),
    )


def jpeg_dimensions_udf():
    """JPEG (width, height) via the SOF marker walk — segment offsets
    are variable (EXIF/JFIF segments precede the frame header), so
    this is a real scan, Arrow-vectorized. Height/width are the
    big-endian uint16s at +5/+7 inside the first SOF0-SOF15 segment
    (excluding DHT/DAC/RST C4/C8/CC). Returns null for non-JPEG or
    truncated input."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<width:int,height:int>")
    def _dims(content: pd.Series) -> pd.DataFrame:
        ws, hs = [], []
        for buf in content:
            w = h = None
            b = bytes(buf or b"")
            if len(b) >= 4 and b[0] == 0xFF and b[1] == 0xD8:
                pos = 2
                while pos + 1 < len(b):
                    if b[pos] != 0xFF:
                        break
                    # JPEG allows runs of 0xFF FILL bytes before the
                    # marker id — skip to the last 0xFF of the run.
                    while pos + 1 < len(b) and b[pos + 1] == 0xFF:
                        pos += 1
                    if pos + 1 >= len(b):
                        break
                    marker = b[pos + 1]
                    # Standalone markers carry NO length field: TEM
                    # (0x01) and RSTn (0xD0-0xD7). Treating their next
                    # two bytes as a length misreads spec-valid files.
                    if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                        pos += 2
                        continue
                    if 0xC0 <= marker <= 0xCF and marker not in (
                        0xC4, 0xC8, 0xCC
                    ):
                        if pos + 9 > len(b):
                            break  # truncated SOF
                        h = (b[pos + 5] << 8) | b[pos + 6]
                        w = (b[pos + 7] << 8) | b[pos + 8]
                        break
                    if pos + 4 > len(b):
                        break  # truncated segment header
                    seg_len = (b[pos + 2] << 8) | b[pos + 3]
                    if seg_len < 2:
                        break  # malformed length
                    pos += 2 + seg_len
            ws.append(w)
            hs.append(h)
        return pd.DataFrame({"width": ws, "height": hs})

    return _dims


def image_dimensions(df: DataFrame, *, content_col: str = "content") -> DataFrame:
    """Dispatch: PNG dims via the zero-UDF expression, JPEG dims via
    the Arrow marker walk; adds (fmt, width, height). Unknown formats
    get fmt='unknown' and null dims — never an error (the audit
    posture of the ingest tier)."""
    c = F.col(content_col)
    hx = F.hex(c)
    is_png = F.substring(hx, 1, 16) == PNG_MAGIC_HEX
    is_jpeg = F.substring(hx, 1, 4) == "FFD8"
    png = png_dimensions(c)
    jpg = jpeg_dimensions_udf()(c)
    fmt = (
        F.when(is_png, F.lit("png"))
        .when(is_jpeg, F.lit("jpeg"))
        .otherwise(F.lit("unknown"))
    )
    dims = F.when(is_png, png).when(is_jpeg, jpg)
    return df.withColumn("fmt", fmt).withColumn(
        "width", dims["width"]
    ).withColumn("height", dims["height"])


def _le_u32_hex(hex_col, byte_off: int):
    """Little-endian uint32 at ``byte_off`` (0-based) of a hex()'d
    blob: reassemble the four bytes in reverse order, conv(16).
    Pure expression — this is how you read RIFF fields with no UDF."""
    s = byte_off * 2 + 1
    b = [F.substring(hex_col, s + 2 * i, 2) for i in range(4)]
    return F.conv(F.concat(b[3], b[2], b[1], b[0]), 16, 10).cast("long")


def _le_u16_hex(hex_col, byte_off: int):
    s = byte_off * 2 + 1
    return F.conv(
        F.concat(
            F.substring(hex_col, s + 2, 2), F.substring(hex_col, s, 2)
        ),
        16,
        10,
    ).cast("long")


def wav_metadata(df: DataFrame, *, content_col: str = "content") -> DataFrame:
    """WAV (RIFF/WAVE) metadata as pure Catalyst expressions — zero
    UDF: sample_rate (LE u32 @24), channels (LE u16 @22),
    bits_per_sample (LE u16 @34), data size (LE u32 @40 for the
    canonical fmt-then-data layout), and the derived duration_ms
    (integer math: bytes * 8000 / (rate * channels * bits)). Non-WAV
    rows get nulls — audit posture, never an error.

    The canonical 44-byte header covers the overwhelming majority of
    corpus WAVs; files with extra chunks before `data` want the same
    marker-walk treatment as JPEG (UDF) — this expression path is the
    fast screen that classifies and meters the bulk at scan speed."""
    c = F.col(content_col)
    hx = F.hex(c)
    is_wav = (F.substring(hx, 1, 8) == "52494646") & (
        F.substring(hx, 17, 8) == "57415645"
    )
    rate = _le_u32_hex(hx, 24)
    channels = _le_u16_hex(hx, 22)
    bits = _le_u16_hex(hx, 34)
    data_bytes = _le_u32_hex(hx, 40)
    denom = rate * channels * bits
    # floor of one IEEE division — identical in any engine (Spark's
    # bare long cast truncates while DuckDB's rounds, so never cast a
    # raw double across engines without an explicit floor)
    duration_ms = F.when(
        denom > 0, F.floor((data_bytes * 8000) / denom).cast("long")
    )
    return (
        df.withColumn(
            "sample_rate", F.when(is_wav, rate)
        )
        .withColumn("channels", F.when(is_wav, channels))
        .withColumn("bits_per_sample", F.when(is_wav, bits))
        .withColumn("duration_ms", F.when(is_wav, duration_ms))
    )


def mp4_metadata_udf():
    """MP4/ISO-BMFF (timescale, duration_ms) via the box walk: parse
    [size][4cc] boxes at the top level, find `moov`, walk its children
    for `mvhd` (version 0: timescale BE32 at payload+12, duration BE32
    at +16). Arrow-vectorized like the JPEG scanner — box offsets are
    variable, so this genuinely needs the walk. Nulls for non-MP4 or
    truncated input; duration_ms is exact integer math
    (duration * 1000 // timescale)."""
    from pyspark.sql.functions import pandas_udf

    def _be32(b, i):
        return (b[i] << 24) | (b[i + 1] << 16) | (b[i + 2] << 8) | b[i + 3]

    @pandas_udf("struct<timescale:long,duration_ms:long>")
    def _meta(content: pd.Series) -> pd.DataFrame:
        tss, durs = [], []
        for buf in content:
            ts = dms = None
            b = bytes(buf or b"")
            pos = 0
            while pos + 8 <= len(b):
                size = _be32(b, pos)
                if size < 8:
                    break
                typ = b[pos + 4:pos + 8]
                if typ == b"moov":
                    q = pos + 8
                    end = min(pos + size, len(b))
                    while q + 8 <= end:
                        csize = _be32(b, q)
                        if csize < 8:
                            break
                        if b[q + 4:q + 8] == b"mvhd" and q + 28 <= end:
                            if b[q + 8] == 0:  # version 0
                                ts = _be32(b, q + 20)
                                dur = _be32(b, q + 24)
                                if ts:
                                    dms = dur * 1000 // ts
                            break
                        q += csize
                    break
                pos += size
            tss.append(ts)
            durs.append(dms)
        return pd.DataFrame({"timescale": tss, "duration_ms": durs})

    return _meta


# -- real PNG pixel decode (stdlib zlib + numpy, no codec library) ----------
#
# PNG is the one mainstream image container fully decodable with the
# standard library: chunk walk + zlib inflate + the five scanline
# filters. This closes the pixel tier for PNG — the codec stub now
# covers only JPEG/audio/video sample data. The decoder is generic
# (8-bit gray / gray+alpha / RGB / RGBA / palette, non-interlaced);
# the encoder exists so planted-pixel tests can exercise EVERY
# unfilter path with hand-computable pixel content.

import struct as _struct
import zlib as _zlib

import numpy as _np


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        _struct.pack(">I", len(payload))
        + tag
        + payload
        + _struct.pack(">I", _zlib.crc32(tag + payload))
    )


def encode_png(pixels, *, filter_type: int = 0) -> bytes:
    """Minimal PNG encoder: ``pixels`` is a uint8 numpy array of shape
    (h, w) for grayscale or (h, w, 3) for RGB; every scanline uses the
    single given filter type (0 none / 1 sub / 2 up / 3 average /
    4 paeth). Test/plant support — production corpora carry real PNGs;
    what matters at scale is the DECODER below."""
    px = _np.asarray(pixels, dtype=_np.uint8)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    ch = 1 if gray else px.shape[2]
    color_type = {1: 0, 3: 2, 4: 6}[ch]
    raw = px.reshape(h, w * ch).astype(_np.int32)
    prev = _np.zeros(w * ch, dtype=_np.int32)
    lines = []
    for y in range(h):
        cur = raw[y]
        left = _np.zeros_like(cur)
        left[ch:] = cur[:-ch]
        prev_left = _np.zeros_like(prev)
        prev_left[ch:] = prev[:-ch]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - (left + prev) // 2
        elif filter_type == 4:
            p = left + prev - prev_left
            pa, pb, pc = (
                _np.abs(p - left), _np.abs(p - prev), _np.abs(p - prev_left)
            )
            pred = _np.where(
                (pa <= pb) & (pa <= pc), left,
                _np.where(pb <= pc, prev, prev_left),
            )
            filt = cur - pred
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
        lines.append(bytes([filter_type]) + (filt % 256).astype(_np.uint8).tobytes())
        prev = cur
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        bytes.fromhex(PNG_MAGIC_HEX)
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(data: bytes):
    """Real PNG pixel decode with the standard library only: chunk
    walk, concatenated-IDAT zlib inflate, per-scanline unfilter (all
    five filter types), palette resolution. Supports 8-bit depth,
    color types 0/2/3/4/6, non-interlaced. Returns a uint8 array of
    shape (h, w, channels), or None for non-PNG / unsupported /
    corrupt input (the audit posture: never an error).

    Unfiltering is numpy per scanline — filters 0/2 fully vectorized,
    1 (sub) via per-lane cumulative sum, 3/4 as per-pixel loops (the
    left-neighbor dependence is inherently sequential). At corpus
    scale this runs inside mapInPandas partitions, so throughput
    scales with executors; swap libpng via decode_media when codecs
    are available."""
    b = bytes(data or b"")
    if len(b) < 33 or b[:8] != bytes.fromhex(PNG_MAGIC_HEX):
        return None
    pos = 8
    ihdr = None
    idat = []
    plte = None
    try:
        while pos + 8 <= len(b):
            (length,) = _struct.unpack(">I", b[pos:pos + 4])
            tag = b[pos + 4:pos + 8]
            payload = b[pos + 8:pos + 8 + length]
            if len(payload) < length:
                return None
            if tag == b"IHDR":
                ihdr = _struct.unpack(">IIBBBBB", payload)
            elif tag == b"IDAT":
                idat.append(payload)
            elif tag == b"PLTE":
                plte = _np.frombuffer(payload, dtype=_np.uint8).reshape(-1, 3)
            elif tag == b"IEND":
                break
            pos += 12 + length
        if ihdr is None or not idat:
            return None
        w, h, depth, color_type, comp, filt_m, interlace = ihdr
        if depth != 8 or comp != 0 or filt_m != 0 or interlace != 0:
            return None
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
        if channels is None or w == 0 or h == 0:
            return None
        raw = _zlib.decompress(b"".join(idat))
        stride = w * channels
        if len(raw) < h * (stride + 1):
            return None
        out = _np.zeros((h, stride), dtype=_np.uint8)
        prev = _np.zeros(stride, dtype=_np.int32)
        for y in range(h):
            row = raw[y * (stride + 1): (y + 1) * (stride + 1)]
            ft = row[0]
            cur = _np.frombuffer(
                row[1:], dtype=_np.uint8
            ).astype(_np.int32)
            if ft == 0:
                rec = cur
            elif ft == 1:
                # sub: per-lane prefix sum (recon[i] = filt[i] +
                # recon[i-bpp]) — cumsum in int64 then mod 256
                rec = cur.copy()
                for lane in range(channels):
                    rec[lane::channels] = _np.cumsum(
                        cur[lane::channels], dtype=_np.int64
                    ) % 256
            elif ft == 2:
                rec = (cur + prev) % 256
            elif ft in (3, 4):
                rec = _np.zeros(stride, dtype=_np.int32)
                for i in range(stride):
                    left = rec[i - channels] if i >= channels else 0
                    up = int(prev[i])
                    ul = int(prev[i - channels]) if i >= channels else 0
                    if ft == 3:
                        pred = (left + up) // 2
                    else:
                        p = left + up - ul
                        pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                        pred = (
                            left if pa <= pb and pa <= pc
                            else up if pb <= pc else ul
                        )
                    rec[i] = (int(cur[i]) + pred) % 256
            else:
                return None
            out[y] = rec.astype(_np.uint8)
            prev = rec
        px = out.reshape(h, w, channels)
        if color_type == 3:
            if plte is None or int(px.max()) >= len(plte):
                return None
            px = plte[px[:, :, 0]]
        return px
    except Exception:
        return None


def png_pixel_stats(
    df: DataFrame, *, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """Decode PNG pixels and emit integer-exact luminance statistics
    per image: n_pixels, sum_luma, min_luma, max_luma (luma = the gray
    value for grayscale, (r+g+b)//3 integer for color — exact, so an
    external engine can replay planted images arithmetically). Arrow
    mapInPandas; undecodable rows emit nulls, never errors."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("n_pixels", T.LongType(), True),
            T.StructField("sum_luma", T.LongType(), True),
            T.StructField("min_luma", T.IntegerType(), True),
            T.StructField("max_luma", T.IntegerType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in (
                "media_id", "width", "height", "n_pixels",
                "sum_luma", "min_luma", "max_luma",
            )}
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                px = decode_png_pixels(buf)
                rows["media_id"].append(mid)
                if px is None:
                    for k in (
                        "width", "height", "n_pixels", "sum_luma",
                        "min_luma", "max_luma",
                    ):
                        rows[k].append(None)
                    continue
                h, w, ch = px.shape
                if ch >= 3:
                    luma = (
                        px[:, :, 0].astype(_np.int64)
                        + px[:, :, 1] + px[:, :, 2]
                    ) // 3
                else:
                    luma = px[:, :, 0].astype(_np.int64)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(int(w) * int(h))
                rows["sum_luma"].append(int(luma.sum()))
                rows["min_luma"].append(int(luma.min()))
                rows["max_luma"].append(int(luma.max()))
            yield pd.DataFrame(rows)

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(content_col)
    ).mapInPandas(batches, schema=out_schema)


# -- real WAV PCM sample decode (stdlib struct + numpy, no codec) -----------
#
# PCM WAV is raw interleaved integer samples behind a RIFF chunk walk
# — fully decodable with the standard library, like PNG above. This
# closes the AUDIO sample tier for PCM (the dominant uncompressed
# corpus format); the codec stub now covers only JPEG pixel data and
# compressed audio/video (MP3/AAC/H.264). Reference parity: the
# reference has no media decode at all — this is beyond-reference
# surface for a multimodal training corpus.


def encode_wav(
    samples, *, sample_rate: int = 8000, bits: int = 16,
    extra_chunk: bool = False,
) -> bytes:
    """Minimal PCM WAV encoder for planted-sample tests. ``samples``
    is an int numpy array of shape (n_frames,) mono or
    (n_frames, channels); values must fit the signed range of
    ``bits`` (8-bit is stored unsigned +128 per the WAV spec).
    ``extra_chunk`` inserts a LIST chunk between fmt and data so the
    decoder's chunk WALK (not a fixed 44-byte layout) is exercised."""
    px = _np.asarray(samples)
    if px.ndim == 1:
        px = px[:, None]
    n, ch = px.shape
    flat = px.reshape(-1)
    if bits == 8:
        body = (flat + 128).astype(_np.uint8).tobytes()
    elif bits == 16:
        body = flat.astype("<i2").tobytes()
    elif bits == 24:
        as32 = flat.astype("<i4").tobytes()
        # keep the low three little-endian bytes of each int32
        b = _np.frombuffer(as32, dtype=_np.uint8).reshape(-1, 4)
        body = b[:, :3].tobytes()
    elif bits == 32:
        body = flat.astype("<i4").tobytes()
    else:
        raise ValueError(f"unsupported bits {bits}")
    block_align = ch * bits // 8
    fmt = _struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block_align,
        block_align, bits,
    )
    chunks = b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:
        info = b"INFOICMT" + _struct.pack("<I", 5) + b"test\x00" + b"\x00"
        chunks += b"LIST" + _struct.pack("<I", len(info)) + info
    chunks += b"data" + _struct.pack("<I", len(body)) + body
    if len(body) % 2:
        chunks += b"\x00"  # RIFF word alignment pad
    return b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav_samples(data: bytes):
    """Real PCM WAV decode with the standard library only: RIFF chunk
    walk (word-aligned, tolerates LIST/fact/cue chunks in any order),
    fmt parse, and interleaved sample extraction for 8 (unsigned,
    recentred to signed)/16/24/32-bit PCM. Returns
    (samples int32 array of shape (n_frames, channels), sample_rate)
    or None for non-WAV / non-PCM / truncated input — audit posture,
    never an error. Compressed codecs (format tags other than 1)
    return None and stay behind decode_media."""
    b = bytes(data or b"")
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    body = None
    try:
        while pos + 8 <= len(b):
            tag = b[pos:pos + 4]
            (size,) = _struct.unpack("<I", b[pos + 4:pos + 8])
            payload = b[pos + 8:pos + 8 + size]
            if len(payload) < size:
                return None
            if tag == b"fmt " and size >= 16:
                fmt = _struct.unpack("<HHIIHH", payload[:16])
                fmt_payload = payload
            elif tag == b"data":
                body = payload
            pos += 8 + size + (size % 2)  # chunks are word-aligned
        if fmt is None or body is None:
            return None
        audio_format, ch, rate, _byte_rate, _block, bits = fmt
        if audio_format == 0xFFFE:
            # WAVE_FORMAT_EXTENSIBLE: PCM only if the 16-byte SubFormat
            # GUID (KSDATAFORMAT_SUBTYPE_PCM) says so — common for
            # 24-bit and multichannel corpora.
            pcm_guid = (
                b"\x01\x00\x00\x00\x00\x00\x10\x00"
                b"\x80\x00\x00\xaa\x00\x38\x9b\x71"
            )
            if len(fmt_payload) < 40 or fmt_payload[24:40] != pcm_guid:
                return None
            audio_format = 1
        if audio_format != 1 or ch == 0:
            return None
        if bits == 8:
            flat = _np.frombuffer(body, dtype=_np.uint8).astype(
                _np.int32
            ) - 128
        elif bits == 16:
            flat = _np.frombuffer(body, dtype="<i2").astype(_np.int32)
        elif bits == 24:
            raw = _np.frombuffer(body, dtype=_np.uint8)
            raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3)
            flat = (
                raw[:, 0].astype(_np.int32)
                | (raw[:, 1].astype(_np.int32) << 8)
                | (raw[:, 2].astype(_np.int32) << 16)
            )
            flat = _np.where(flat >= 1 << 23, flat - (1 << 24), flat)
        elif bits == 32:
            flat = _np.frombuffer(body, dtype="<i4").astype(_np.int32)
        else:
            return None
        n = len(flat) // ch
        if n == 0:
            return None
        return flat[: n * ch].reshape(n, ch), int(rate)
    except Exception:
        return None


def wav_sample_stats(
    df: DataFrame, *, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """Decode PCM WAV samples and emit integer-exact per-clip
    statistics: n_frames, channels, sample_rate, sum_abs (summed over
    all channels), min/max sample, and zero_crossings (per channel,
    strict sign-product < 0 between consecutive frames, summed over
    channels — integer-exact so an external engine can replay planted
    waveforms arithmetically). Arrow mapInPandas; undecodable rows
    emit nulls, never errors."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("n_frames", T.LongType(), True),
            T.StructField("sum_abs", T.LongType(), True),
            T.StructField("min_sample", T.IntegerType(), True),
            T.StructField("max_sample", T.IntegerType(), True),
            T.StructField("zero_crossings", T.LongType(), True),
        ]
    )
    cols = (
        "media_id", "sample_rate", "channels", "n_frames",
        "sum_abs", "min_sample", "max_sample", "zero_crossings",
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in cols}
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                rows["media_id"].append(mid)
                dec = decode_wav_samples(buf)
                if dec is None:
                    for k in cols[1:]:
                        rows[k].append(None)
                    continue
                px, rate = dec
                sign = _np.sign(px)
                zc = int(((sign[:-1] * sign[1:]) < 0).sum())
                rows["sample_rate"].append(rate)
                rows["channels"].append(px.shape[1])
                rows["n_frames"].append(px.shape[0])
                rows["sum_abs"].append(
                    int(_np.abs(px.astype(_np.int64)).sum())
                )
                rows["min_sample"].append(int(px.min()))
                rows["max_sample"].append(int(px.max()))
                rows["zero_crossings"].append(zc)
            yield pd.DataFrame(rows)

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(content_col)
    ).mapInPandas(batches, schema=out_schema)


def jpeg_pixel_stats(
    df: DataFrame, *, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """Decode baseline JPEG pixels (functions/jpeg_codec.py — real
    T.81 Huffman+IDCT decoder, stdlib+numpy only) and emit the same
    integer-exact luminance statistics as png_pixel_stats. Arrow
    mapInPandas; undecodable/progressive rows emit nulls."""
    from data_pipeline_mlops_spark.functions.jpeg_codec import (
        decode_jpeg_pixels,
    )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("n_pixels", T.LongType(), True),
            T.StructField("sum_luma", T.LongType(), True),
            T.StructField("min_luma", T.IntegerType(), True),
            T.StructField("max_luma", T.IntegerType(), True),
        ]
    )
    cols = (
        "media_id", "width", "height", "n_pixels",
        "sum_luma", "min_luma", "max_luma",
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in cols}
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                rows["media_id"].append(mid)
                px = decode_jpeg_pixels(buf)
                if px is None:
                    for k in cols[1:]:
                        rows[k].append(None)
                    continue
                h, w, ch = px.shape
                if ch >= 3:
                    luma = (
                        px[:, :, 0].astype(_np.int64)
                        + px[:, :, 1] + px[:, :, 2]
                    ) // 3
                else:
                    luma = px[:, :, 0].astype(_np.int64)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(int(w) * int(h))
                rows["sum_luma"].append(int(luma.sum()))
                rows["min_luma"].append(int(luma.min()))
                rows["max_luma"].append(int(luma.max()))
            yield pd.DataFrame(rows)

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(content_col)
    ).mapInPandas(batches, schema=out_schema)


# -- real GIF + BMP pixel decode (stdlib struct + numpy, no codec) ----------
#
# GIF's LZW lives in functions/gif_codec.py (the substantial part —
# variable-width codes, clears, interlace). BMP below is the trivial
# uncompressed DIB: BITMAPINFOHEADER, BI_RGB, 8-bit palette or 24-bit
# BGR, 4-byte row padding, bottom-up or top-down.


def encode_bmp(pixels, *, palette=None, top_down: bool = False) -> bytes:
    """Planted-fixture encoder: (h, w) uint8 indices with a palette,
    or (h, w, 3) uint8 RGB. BI_RGB only."""
    px = _np.asarray(pixels, dtype=_np.uint8)
    h, w = px.shape[:2]
    pal_bytes = b""
    if palette is not None:
        pal = _np.asarray(palette, dtype=_np.uint8).reshape(-1, 3)
        bpp, n_colors = 8, 256
        stride = (w + 3) & ~3
        rows = _np.zeros((h, stride), dtype=_np.uint8)
        rows[:, :w] = px
        buf = bytearray()  # palette entries are stored BGRX
        for r, g, b in pal:
            buf += bytes((b, g, r, 0))
        buf += b"\x00" * (4 * (256 - len(pal)))
        pal_bytes = bytes(buf)
    else:
        bpp, n_colors = 24, 0
        stride = (3 * w + 3) & ~3
        rows = _np.zeros((h, stride), dtype=_np.uint8)
        rows[:, : 3 * w] = px[:, :, ::-1].reshape(h, 3 * w)  # RGB -> BGR
    raster = (rows if top_down else rows[::-1]).tobytes()
    data_off = 14 + 40 + len(pal_bytes)
    height_field = -h if top_down else h
    header = b"BM" + _struct.pack(
        "<IHHI", data_off + len(raster), 0, 0, data_off
    )
    dib = _struct.pack(
        "<IiiHHIIiiII", 40, w, height_field, 1, bpp, 0,
        len(raster), 2835, 2835, n_colors, 0,
    )
    return header + dib + pal_bytes + raster


def decode_bmp_pixels(data: bytes):
    """BI_RGB BITMAPINFOHEADER decode: 8-bit palette or 24-bit BGR,
    bottom-up (positive height) or top-down. Returns (h, w, 3) uint8
    RGB, or None for non-BMP / compressed / unsupported depth."""
    b = bytes(data or b"")
    if len(b) < 54 or b[:2] != b"BM":
        return None
    try:
        (data_off,) = _struct.unpack("<I", b[10:14])
        size, w, height_field, planes, bpp, comp = _struct.unpack(
            "<IiiHHI", b[14:34]
        )
        if size < 40 or planes != 1 or comp != 0 or w <= 0:
            return None
        h = abs(height_field)
        if h == 0:
            return None
        if bpp == 8:
            (n_colors,) = _struct.unpack("<I", b[46:50])
            n_colors = n_colors or 256
            pal_off = 14 + size
            pal = _np.frombuffer(
                b[pal_off:pal_off + 4 * n_colors], dtype=_np.uint8
            )
            if len(pal) < 4 * n_colors:
                return None
            pal = pal.reshape(-1, 4)[:, :3][:, ::-1]  # BGRX -> RGB
            stride = (w + 3) & ~3
            raster = _np.frombuffer(
                b[data_off:data_off + h * stride], dtype=_np.uint8
            )
            if len(raster) < h * stride:
                return None
            idx = raster.reshape(h, stride)[:, :w]
            if int(idx.max(initial=0)) >= len(pal):
                return None
            px = pal[idx]
        elif bpp == 24:
            stride = (3 * w + 3) & ~3
            raster = _np.frombuffer(
                b[data_off:data_off + h * stride], dtype=_np.uint8
            )
            if len(raster) < h * stride:
                return None
            rows = raster.reshape(h, stride)[:, : 3 * w]
            px = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        else:
            return None
        if height_field > 0:  # bottom-up storage
            px = px[::-1]
        return _np.ascontiguousarray(px)
    except Exception:
        return None


_RASTER_STAT_COLS = (
    "width", "height", "n_pixels", "sum_luma", "min_luma", "max_luma",
)


def _raster_stats(df, decode, *, id_col, content_col, frame_count):
    """Shared mapInPandas kernel behind gif/bmp pixel stats: decode
    each blob, emit integer-exact luminance stats ((r+g+b)//3), null
    row on undecodable input. ``decode`` returns an (h, w, 3) array or
    (array, n_frames) when frame_count is set."""
    fields = [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("sum_luma", T.LongType(), True),
        T.StructField("min_luma", T.IntegerType(), True),
        T.StructField("max_luma", T.IntegerType(), True),
    ]
    if frame_count:
        fields.append(T.StructField("n_frames", T.IntegerType(), True))
    cols = ("media_id",) + _RASTER_STAT_COLS + (
        ("n_frames",) if frame_count else ()
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in cols}
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                rows["media_id"].append(mid)
                dec = decode(buf)
                if dec is None:
                    for k in cols[1:]:
                        rows[k].append(None)
                    continue
                if frame_count:
                    px, n_frames = dec
                    rows["n_frames"].append(int(n_frames))
                else:
                    px = dec
                h, w = px.shape[:2]
                luma = (
                    px[:, :, 0].astype(_np.int64)
                    + px[:, :, 1] + px[:, :, 2]
                ) // 3
                rows["width"].append(int(w))
                rows["height"].append(int(h))
                rows["n_pixels"].append(int(w) * int(h))
                rows["sum_luma"].append(int(luma.sum()))
                rows["min_luma"].append(int(luma.min()))
                rows["max_luma"].append(int(luma.max()))
            yield pd.DataFrame(rows)

    return df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(content_col)
    ).mapInPandas(batches, schema=T.StructType(fields))


def gif_pixel_stats(
    df: DataFrame, *, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """First-frame luminance stats + frame count per GIF (real LZW
    decode via functions/gif_codec.py)."""
    from data_pipeline_mlops_spark.functions.gif_codec import (
        decode_gif_pixels,
    )

    return _raster_stats(
        df, decode_gif_pixels,
        id_col=id_col, content_col=content_col, frame_count=True,
    )


def bmp_pixel_stats(
    df: DataFrame, *, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """Luminance stats per BMP (BI_RGB 8-bit palette / 24-bit)."""
    return _raster_stats(
        df, decode_bmp_pixels,
        id_col=id_col, content_col=content_col, frame_count=False,
    )


# -- real MP3 frame-header walk (stdlib only, no codec) ----------------------
#
# Compressed-audio SAMPLE decode (the MDCT/filterbank synthesis) stays
# out of scope here (see decode_media + COVERAGE.md capability table),
# but the frame-header tier is a real, spec-complete parse: an MPEG
# audio stream is a sequence of self-describing frames, and everything
# a 100 TB ingest gate needs — duration, sample rate, channel count,
# CBR/VBR, bitrate envelope — falls out of walking the headers
# (ISO/IEC 11172-3 §2.4.1.3; the same tier ffprobe uses for its fast
# path). The walk also skips a leading ID3v2 tag (syncsafe size).

# bitrate tables in kbps, indexed [bitrate_index 1..14]; index 0 is
# "free format" (rejected) and 15 is invalid
_MP3_BITRATES_V1_L3 = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320
)
_MP3_BITRATES_V2_L3 = (
    None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160
)
_MP3_SAMPLERATES_V1 = (44100, 48000, 32000)


def parse_mp3_frames(data: bytes):
    """Walk an MPEG-1/2/2.5 Layer III stream's frame headers; returns
    {n_frames, sample_rate, channels, bitrate_min_kbps,
    bitrate_max_kbps, is_vbr, duration_ms} or None on anything
    malformed within the frame sequence (no valid first frame,
    free-format, reserved fields, a frame whose declared length
    overruns the buffer, mid-stream rate/mode switch). Deliberately
    LENIENT about trailing non-frame bytes: the walk stops at the
    first byte that is not a frame sync and reports the frames parsed
    so far — real files end in ID3v1 tags ("TAG", 128 bytes), APE
    tags, or junk, and ffprobe's fast path tolerates the same.
    Integer-exact: duration_ms = total_samples * 1000 //
    sample_rate."""
    b = bytes(data or b"")
    pos = 0
    # ID3v2 header: "ID3" ver(2) flags(1) size(4, syncsafe 7-bit bytes)
    if len(b) >= 10 and b[:3] == b"ID3":
        if any(x & 0x80 for x in b[6:10]):
            return None  # malformed syncsafe size
        size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
        pos = 10 + size
        if b[5] & 0x10:
            # ID3v2.4 footer flag: a 10-byte "3DI" footer trails the
            # tag body and is NOT counted in the syncsafe size
            pos += 10
    n_frames = 0
    sample_rate = None
    channels = None
    br_min = br_max = None
    total_samples = 0
    while pos + 4 <= len(b):
        h0, h1, h2, h3 = b[pos:pos + 4]
        if h0 != 0xFF or (h1 & 0xE0) != 0xE0:
            break  # desync: stop at first non-frame byte
        version_bits = (h1 >> 3) & 0x03  # 00=2.5, 10=2, 11=1 (01 rsvd)
        layer_bits = (h1 >> 1) & 0x03    # 01=III
        if version_bits == 0b01 or layer_bits != 0b01:
            return None  # reserved version / not Layer III
        br_idx = (h2 >> 4) & 0x0F
        sr_idx = (h2 >> 2) & 0x03
        padding = (h2 >> 1) & 0x01
        mode = (h3 >> 6) & 0x03  # 11 = mono
        if br_idx in (0, 15) or sr_idx == 3:
            return None  # free-format / invalid indices
        if version_bits == 0b11:  # MPEG-1
            sr = _MP3_SAMPLERATES_V1[sr_idx]
            kbps = _MP3_BITRATES_V1_L3[br_idx]
            spf = 1152
            frame_len = 144_000 * kbps // sr + padding
        else:  # MPEG-2 (10) / MPEG-2.5 (00)
            div = 2 if version_bits == 0b10 else 4
            sr = _MP3_SAMPLERATES_V1[sr_idx] // div
            kbps = _MP3_BITRATES_V2_L3[br_idx]
            spf = 576
            frame_len = 72_000 * kbps // sr + padding
        ch = 1 if mode == 0b11 else 2
        if sample_rate is None:
            sample_rate, channels = sr, ch
        elif (sr, ch) != (sample_rate, channels):
            return None  # rate/mode switch mid-stream: not one stream
        if pos + frame_len > len(b):
            return None  # truncated final frame
        n_frames += 1
        total_samples += spf
        br_min = kbps if br_min is None else min(br_min, kbps)
        br_max = kbps if br_max is None else max(br_max, kbps)
        pos += frame_len
    if n_frames == 0:
        return None
    return {
        "n_frames": n_frames,
        "sample_rate": sample_rate,
        "channels": channels,
        "bitrate_min_kbps": br_min,
        "bitrate_max_kbps": br_max,
        "is_vbr": br_min != br_max,
        "duration_ms": total_samples * 1000 // sample_rate,
    }


def encode_mp3_planted(
    *,
    n_frames: int,
    sr_idx: int = 0,
    mono: bool = False,
    bitrate_indices,
    id3_size: int | None = None,
    id3_footer: bool = False,
    mpeg2: bool = False,
) -> bytes:
    """Planted-fixture builder: spec-valid Layer III frame HEADERS
    with zeroed payloads (the walker never reads payload bytes — same
    planting idiom as encode_gif/encode_bmp). ``bitrate_indices``
    cycles per frame (len>1 = VBR). ``id3_footer`` sets the ID3v2.4
    footer flag and appends the 10-byte "3DI" footer after the tag
    body (not counted in the syncsafe size, per spec §3.1)."""
    out = bytearray()
    if id3_size is not None:
        flags = 0x10 if id3_footer else 0x00
        out += b"ID3\x04\x00" + bytes([flags]) + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        )
        out += b"\x00" * id3_size
        if id3_footer:
            out += b"3DI\x04\x00" + bytes([flags]) + bytes(
                [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
                 (id3_size >> 7) & 0x7F, id3_size & 0x7F]
            )
    version_bits = 0b10 if mpeg2 else 0b11
    for i in range(n_frames):
        br_idx = bitrate_indices[i % len(bitrate_indices)]
        padding = 0
        h1 = 0xE0 | (version_bits << 3) | (0b01 << 1) | 0x01
        h2 = (br_idx << 4) | (sr_idx << 2) | (padding << 1)
        h3 = (0b11 << 6) if mono else 0x00
        if mpeg2:
            sr = _MP3_SAMPLERATES_V1[sr_idx] // 2
            frame_len = 72_000 * _MP3_BITRATES_V2_L3[br_idx] // sr
        else:
            sr = _MP3_SAMPLERATES_V1[sr_idx]
            frame_len = 144_000 * _MP3_BITRATES_V1_L3[br_idx] // sr
        out += bytes([0xFF, h1, h2, h3]) + b"\x00" * (frame_len - 4)
    return bytes(out)


def mp3_metadata(
    df: DataFrame, *, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """Frame-walk metadata per MP3 blob (Arrow mapInPandas; null row on
    malformed input, never an error)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("bitrate_min_kbps", T.IntegerType(), True),
            T.StructField("bitrate_max_kbps", T.IntegerType(), True),
            T.StructField("is_vbr", T.BooleanType(), True),
            T.StructField("duration_ms", T.LongType(), True),
        ]
    )
    keys = [f.name for f in out_schema.fields[1:]]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("media_id", *keys)}
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                rows["media_id"].append(mid)
                meta = parse_mp3_frames(buf)
                for k in keys:
                    rows[k].append(None if meta is None else meta[k])
            yield pd.DataFrame(rows)

    return df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(content_col)
    ).mapInPandas(batches, schema=out_schema)


# -- perceptual image hashing (dHash) + banded Hamming near-dups -------------
#
# The multimodal counterpart of the text SimHash tier: near-duplicate
# IMAGES (recompressed/re-encoded copies, thumbnails) collapse to the
# same difference-hash even when their bytes differ entirely, so exact
# content-hash dedup misses them. dHash (Krawetz) is the standard
# cheap perceptual hash: downscale to a small luma grid, emit one bit
# per horizontal neighbor comparison. Everything here is INTEGER-exact
# (block sums cross-multiplied instead of float means), so the hash is
# engine- and partitioning-invariant and the whole pipeline oracles.
#
# Fingerprint width is 63 bits (7 block rows x 9 comparisons) so the
# packed hash stays a non-negative int64 — same headroom convention as
# dedup_text.simhash (DuckDB's >> on a negative BIGINT is an
# arithmetic shift, which would corrupt band extraction).

DHASH_ROWS = 7
DHASH_COLS = 10  # comparisons per row = DHASH_COLS - 1 = 9


def dhash64(px) -> int | None:
    """63-bit difference hash of an (h, w, 3) uint8 raster.

    Integer luma (r+g+b)//3, average-pool onto a DHASH_ROWS x
    DHASH_COLS grid (floor-split blocks; means compared via
    cross-multiplied integer block sums so unequal block sizes stay
    exact), bit (r, c) = mean(r, c) > mean(r, c+1), packed row-major.
    None when the raster is smaller than the grid."""
    a = _np.asarray(px)
    h, w = a.shape[:2]
    if h < DHASH_ROWS or w < DHASH_COLS:
        return None
    luma = (
        a[:, :, 0].astype(_np.int64) + a[:, :, 1] + a[:, :, 2]
    ) // 3
    row_splits = _np.array_split(_np.arange(h), DHASH_ROWS)
    col_splits = _np.array_split(_np.arange(w), DHASH_COLS)
    sums = _np.empty((DHASH_ROWS, DHASH_COLS), dtype=_np.int64)
    counts = _np.empty((DHASH_ROWS, DHASH_COLS), dtype=_np.int64)
    for r, rs in enumerate(row_splits):
        band = luma[rs[0]:rs[-1] + 1]
        for c, cs in enumerate(col_splits):
            blk = band[:, cs[0]:cs[-1] + 1]
            sums[r, c] = int(blk.sum())
            counts[r, c] = blk.size
    fp = 0
    bit = 0
    for r in range(DHASH_ROWS):
        for c in range(DHASH_COLS - 1):
            # mean(r,c) > mean(r,c+1)  <=>  s_a * n_b > s_b * n_a
            if sums[r, c] * counts[r, c + 1] > sums[r, c + 1] * counts[r, c]:
                fp |= 1 << bit
            bit += 1
    return fp


def image_dhash(
    df: DataFrame,
    *,
    decode,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Per-blob dHash via Arrow mapInPandas: ``decode`` is any of the
    real decoders (decode_bmp_pixels, decode_png_pixels, the GIF
    first-frame decoder...) returning an (h, w, 3) array or
    (array, n_frames); undecodable/too-small rows yield null, never
    errors."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("dhash", T.LongType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                ids.append(mid)
                dec = decode(buf)
                if dec is None:
                    hashes.append(None)
                    continue
                px = dec[0] if isinstance(dec, tuple) else dec
                hashes.append(dhash64(px))
            yield pd.DataFrame({"media_id": ids, "dhash": hashes})

    return df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(content_col)
    ).mapInPandas(batches, schema=out_schema)


def dhash_near_dup_pairs(
    hashes: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate image pairs within ``max_hamming`` bit flips —
    the same pigeonhole banded chunk join as
    dedup_text.simhash_near_dups (two 63-bit hashes within k flips
    must agree on one of k+1 whole chunks), candidates verified by
    exact popcount. Bucketed, never all-pairs."""
    nbits = 63
    bands = max_hamming + 1
    width = -(-nbits // bands)  # ceil
    # fp is referenced FOUR times downstream (both sides of the banded
    # candidate join + both fingerprint re-attach joins); hashes is
    # typically an Arrow mapInPandas decode chain, and without lineage
    # truncation every reference re-decodes every blob (the before plan
    # carried 4 copies of the Python decode subtree). Truncate once —
    # 8 bytes/row survive, the media bytes never re-enter the plan.
    fp = hashes.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__fp")
    ).transform(materialize)

    def chunk(b: int) -> F.Column:
        start = b * width
        w = min(width, nbits - start)
        return F.shiftrightunsigned("__fp", start).bitwiseAND(
            F.lit((1 << w) - 1)
        )

    banded = fp.select(
        "__id",
        F.posexplode(
            F.array(*[chunk(b) for b in range(bands)])
        ).alias("band", "chunk"),
    )
    a = banded.select(F.col("__id").alias("id_a"), "band", "chunk")
    b = banded.select(F.col("__id").alias("id_b"), "band", "chunk")
    cands = (
        a.join(b, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    fa = fp.select(F.col("__id").alias("id_a"), F.col("__fp").alias("__fa"))
    fb = fp.select(F.col("__id").alias("id_b"), F.col("__fp").alias("__fb"))
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# -- perceptual AUDIO hashing (energy-envelope dHash) ------------------------
#
# The audio sibling of dhash64: re-encoded/volume-shifted copies of
# the same clip keep their ENERGY ENVELOPE shape even when the bytes
# differ, so comparing adjacent coarse-window energies gives a cheap
# perceptual fingerprint (the time-domain tier of chromaprint-style
# hashing — no FFT, so it stays integer-exact and engine-replayable).

EHASH_WINDOWS = 64  # 63 comparison bits -> non-negative int64


def audio_energy_hash(samples) -> int | None:
    """63-bit energy-envelope hash of an (n_frames, channels) int
    array: mono-mix by per-frame channel sum, floor-split the frames
    into EHASH_WINDOWS windows, window energy = sum of squared mono
    values (python ints — no int64 overflow at any bit depth), bit w =
    mean_energy(w) > mean_energy(w+1) via cross-multiplied integer
    sums. None when there are fewer frames than windows."""
    a = _np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    n = a.shape[0]
    if n < EHASH_WINDOWS:
        return None
    mono = [int(x) for x in a.sum(axis=1, dtype=_np.int64)]
    splits = _np.array_split(_np.arange(n), EHASH_WINDOWS)
    sums = [sum(mono[i] * mono[i] for i in s) for s in splits]
    counts = [len(s) for s in splits]
    fp = 0
    for w in range(EHASH_WINDOWS - 1):
        if sums[w] * counts[w + 1] > sums[w + 1] * counts[w]:
            fp |= 1 << w
    return fp


def audio_ehash(
    df: DataFrame,
    *,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Per-blob energy hash of PCM WAV content via Arrow mapInPandas
    (decode_wav_samples then audio_energy_hash); undecodable or
    too-short clips yield null, never errors."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("ehash", T.LongType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                ids.append(mid)
                dec = decode_wav_samples(buf)
                hashes.append(
                    None if dec is None else audio_energy_hash(dec[0])
                )
            yield pd.DataFrame({"media_id": ids, "ehash": hashes})

    return df.select(
        F.col(id_col).cast("long").alias("media_id"), F.col(content_col)
    ).mapInPandas(batches, schema=out_schema)


def hamming_near_dup_pairs(
    hashes: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Modality-neutral alias of :func:`dhash_near_dup_pairs` — the
    banded pigeonhole Hamming join works on ANY 63-bit fingerprint
    column (image dHash, audio energy hash, text SimHash)."""
    return dhash_near_dup_pairs(
        hashes, id_col=id_col, hash_col=hash_col, max_hamming=max_hamming
    )
