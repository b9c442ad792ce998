"""Multimodal tests: the real codecs round-trip and reject foreign
payloads, and the mapInPandas kernels agree exactly with a local Python
recomputation. All eight ``mm_*`` catalog rows are also oracle-gated
(CATALOG.md); these tests pin the codec paths and the raw-payload
kernels that no catalog row drives."""

from __future__ import annotations

import duckdb
import pytest

from nrg_etl_airflow_spark_emr_spark.operators import multimodal as mm
from nrg_etl_airflow_spark_emr_spark.plans.catalog import all_specs

SPECS = all_specs()


def test_byte_histogram_matches_python(spark, sf_dir):
    result = {r.doc_id: (r.n_bytes, [int(x) for x in r.hist_csv.split(",")])
              for r in SPECS["mm_byte_histogram"].builder(spark, sf_dir).collect()}
    con = duckdb.connect()
    texts = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert len(result) == len(texts)
    for doc_id, text in texts:
        payload = text.encode("utf-8")
        assert result[doc_id] == (len(payload), mm._histogram16(payload))


def test_histogram_bins_sum_to_length(spark, sf_dir):
    df = SPECS["mm_byte_histogram"].builder(spark, sf_dir)
    from pyspark.sql import functions as F

    hist = F.transform(F.split("hist_csv", ","), lambda x: x.cast("long"))
    bad = df.filter(
        F.aggregate(hist, F.lit(0).cast("long"), lambda a, x: a + x) != F.col("n_bytes")
    ).count()
    assert bad == 0


def test_catalog_queries_emit_only_scalar_columns(catalog_sweep):
    """The verify driver's pandas canonicalizer cannot sort/hash array or
    map cells (round-1 f8/a6 failure mode) — every catalog query must
    emit scalar-typed columns only. The schemas come from the shared
    one-build-per-query sweep (conftest.catalog_sweep)."""
    offenders = catalog_sweep["nonscalar"]
    assert not offenders, offenders


def test_decode_meta_cross_codec(spark, sf_dir):
    """mm_decode_meta's round-12 cross-codec semantics: every document's
    pixel law renders to BOTH containers and decodes back pixel-equal;
    metadata follows the parity law; pixel_sum matches a local NumPy
    recomputation of the sampled clamped codepoints."""
    import numpy as np

    rows = {
        r.doc_id: r
        for r in SPECS["mm_decode_meta"].builder(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    texts = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE length(text) >= 1"
    ).fetchall()
    assert set(rows) == {d for d, _ in texts}
    for doc_id, text in texts:
        r = rows[doc_id]
        assert (r.width, r.height) == (8, 8)
        assert r.n_channels == (1 if doc_id % 2 == 0 else 3)
        assert r.cross_equal
        n = len(text)
        codes = np.frombuffer(text.encode("utf-32-le"), np.uint32)
        idx = (np.arange(64) * n) // 64
        assert r.pixel_sum == int(np.minimum(codes[idx], 255).sum())


def test_decode_rejects_unknown_format():
    with pytest.raises(ValueError):
        mm.decode_image(b"not an image")


def _gradient(h, w, c):
    import numpy as np

    y, x, ch = np.meshgrid(np.arange(h), np.arange(w), np.arange(c), indexing="ij")
    return ((x * 7 + y * 13 + ch * 29) % 256).astype(np.uint8)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_filter(filter_type):
    import numpy as np

    px = _gradient(13, 9, 3)
    payload = mm.encode_png(px, filter_type=filter_type)
    w, h, c, decoded = mm.decode_png(payload)
    assert (w, h, c) == (9, 13, 3)
    assert np.array_equal(decoded, px)
    assert mm.decode_image(payload) == (9, 13, 3)


@pytest.mark.parametrize("channels", [1, 2, 4])
def test_png_roundtrip_channel_counts(channels):
    import numpy as np

    px = _gradient(5, 7, channels)
    w, h, c, decoded = mm.decode_png(mm.encode_png(px, filter_type=4))
    assert (w, h, c) == (7, 5, channels)
    assert np.array_equal(decoded, px)


def test_png_palette_expansion():
    import struct
    import zlib

    import numpy as np

    # Hand-build a 2x2 paletted PNG: indices [[0,1],[2,0]].
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    idat = zlib.compress(b"\x00\x00\x01" + b"\x00\x02\x00")
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    w, h, c, px = mm.decode_png(payload)
    assert (w, h, c) == (2, 2, 3)
    assert np.array_equal(px, palette[np.array([[0, 1], [2, 0]])])


def _encode_bmp24(px):
    """Minimal bottom-up 24-bit BMP encoder (test-side reference)."""
    import struct

    import numpy as np

    h, w, _ = px.shape
    row_size = (w * 3 + 3) & ~3
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y][..., ::-1].tobytes()  # RGB -> BGR
        rows.append(row + b"\x00" * (row_size - len(row)))
    data = b"".join(rows)
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    )
    return header + data


def test_bmp_roundtrip_24bit():
    import numpy as np

    px = _gradient(6, 5, 3)  # width 5 -> 15-byte rows, exercises padding
    payload = _encode_bmp24(px)
    w, h, c, decoded = mm.decode_bmp(payload)
    assert (w, h, c) == (5, 6, 3)
    assert np.array_equal(decoded, px)
    assert mm.decode_image(payload) == (5, 6, 3)


def _png_ihdr(ihdr: bytes) -> bytes:
    import struct

    return mm._PNG_MAGIC + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\0" * 4


@pytest.mark.parametrize(
    "decode, payload, match",
    [
        (mm.decode_png, mm._PNG_MAGIC + b"junk", "no IHDR chunk"),
        (mm.decode_png, _png_ihdr(b"\0\0\0\2\0\0\0\2\x08\x05\0\0\0"), "colour type 5"),
        (mm.decode_png, _png_ihdr(b"\0\0\0\2\0"), "truncated PNG IHDR"),
        (mm.decode_bmp, b"BMjunk", "truncated BMP header"),
    ],
    ids=["png-no-ihdr", "png-unknown-colour", "png-short-ihdr", "bmp-short-header"],
)
def test_truncated_raster_raises_named_value_error(decode, payload, match):
    """A payload with a valid magic but a broken header fails with a
    ValueError that says what is wrong, as the WAV and AVI codecs do."""
    with pytest.raises(ValueError, match=match):
        decode(payload)


def test_resize_cross_codec(spark, sf_dir):
    """mm_resize's round-12 cross-check semantics: decoded dimensions
    and pixel sums of both targets match a local replay of the pixel
    and nearest-neighbor laws."""
    import numpy as np

    rows = {
        (r.doc_id, r.target_w): (r.target_h, r.n_channels, r.pixel_sum)
        for r in SPECS["mm_resize"].builder(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    texts = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE length(text) >= 1"
    ).fetchall()
    assert len(rows) == 2 * len(texts)
    for doc_id, text in texts:
        n = len(text)
        pix = [min(ord(text[(k * n) // 64]), 255) for k in range(64)]
        ch = 1 if doc_id % 2 == 0 else 3
        s4 = sum(pix[y * 8 + x] for y in (0, 2, 4, 6) for x in (0, 2, 4, 6))
        assert rows[(doc_id, 4)] == (4, ch, ch * s4)
        assert rows[(doc_id, 16)] == (16, ch, ch * 4 * sum(pix))


def test_resize_rejects_unknown_format():
    with pytest.raises(ValueError):
        mm.resize_image(b"x", 2, 2)


def test_resize_real_png_nearest_neighbor():
    import numpy as np

    px = _gradient(8, 8, 3)
    out = mm.resize_image(mm.encode_png(px), 4, 4)
    w, h, c, resized = mm.decode_png(out)
    assert (w, h, c) == (4, 4, 3)
    # Nearest-neighbor with integer 2x downscale picks every other pixel.
    assert np.array_equal(resized, px[::2, ::2])


def test_resize_upscale_from_bmp():
    import numpy as np

    px = _gradient(3, 3, 3)
    out = mm.resize_image(_encode_bmp24(px), 6, 6)
    w, h, c, resized = mm.decode_png(out)
    assert (w, h, c) == (6, 6, 3)
    assert np.array_equal(resized[::2, ::2], px)


def test_decode_meta_real_images_through_spark(spark):
    """End-to-end: real PNG and BMP bytes flow through the raw-payload
    mapInPandas kernel, decoded by the real codecs."""
    png = mm.encode_png(_gradient(12, 34, 3), filter_type=4)
    bmp = _encode_bmp24(_gradient(7, 5, 3))
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(bmp))],
        "doc_id LONG, payload BINARY",
    )
    rows = {
        r.doc_id: (r.width, r.height, r.n_channels)
        for r in df.mapInPandas(
            mm.decode_image_batches, schema=mm.DECODED_SCHEMA
        ).collect()
    }
    assert rows[1] == (34, 12, 3)
    assert rows[2] == (5, 7, 3)


def test_resize_real_png_through_spark(spark):
    """End-to-end: a real PNG flows through resize_batches under its
    declared RESIZED_SCHEMA; the binary column holds the real
    nearest-neighbor resize and n_bytes its length."""
    png = mm.encode_png(_gradient(8, 8, 3))
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id LONG, payload BINARY")
    (row,) = df.mapInPandas(mm.resize_batches, schema=mm.RESIZED_SCHEMA).collect()
    expect = mm.resize_image(png, 64, 64)
    assert (row.doc_id, bytes(row.resized), row.n_bytes) == (1, expect, len(expect))
    assert mm.decode_image(bytes(row.resized)) == (64, 64, 3)


@pytest.mark.parametrize(
    "kernel",
    [
        mm.decode_image_batches,
        mm.resize_batches,
        mm.audio_meta_batches,
        mm.frame_sample_batches,
    ],
    ids=lambda k: k.__name__,
)
def test_payload_kernels_reject_non_media(kernel):
    """No silent fallback: a payload the codec does not recognize raises
    the codec's ValueError instead of becoming made-up metadata."""
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": [1], "payload": [b"just some text"]})
    with pytest.raises(ValueError):
        list(kernel(iter([pdf])))


def test_frame_sample_cross_codec(spark, sf_dir):
    """mm_frame_sample's round-12 cross-check semantics: the sampled
    frames' decoded pixel sums match a local replay of the frame-value
    and sampling laws through the same codecs."""
    rows = {
        (r.doc_id, r.frame_idx): (r.width, r.height, r.n_channels, r.pixel_sum)
        for r in SPECS["mm_frame_sample"].builder(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    texts = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE length(text) >= 1"
    ).fetchall()
    n_expected = 0
    for doc_id, text in texts:
        n = len(text)
        total = 1 + n % 8
        picks = (
            list(range(total))
            if total <= mm.N_FRAMES
            else sorted({i * total // mm.N_FRAMES for i in range(mm.N_FRAMES)})
        )
        n_expected += len(picks)
        for i, src in enumerate(picks):
            c = min(ord(text[src * n // total]), 255)
            assert rows[(doc_id, i)] == (8, 8, 3, 192 * c)
    assert len(rows) == n_expected


@pytest.mark.parametrize("bit_depth", [8, 16, 32])
@pytest.mark.parametrize("n_channels", [1, 2])
def test_wav_roundtrip(bit_depth, n_channels):
    """encode_wav ↔ decode_wav is exact for samples on the quantization
    grid, across PCM depths and channel counts."""
    import numpy as np

    rng = np.random.default_rng(7)
    scale = {8: 128.0, 16: 32768.0, 32: 2147483648.0}[bit_depth]
    # Quantized values representable at this depth (avoid clip at +1.0).
    raw = rng.integers(-int(scale), int(scale) - 1, size=(50, n_channels))
    samples = raw.astype(np.float64) / scale
    payload = mm.encode_wav(samples, 16000, bit_depth=bit_depth)
    sr, nc, bd, ns, decoded = mm.decode_wav(payload)
    assert (sr, nc, bd, ns) == (16000, n_channels, bit_depth, 50)
    assert np.allclose(decoded, samples, atol=1.5 / scale)


def test_wav_skips_extra_chunks():
    """Real WAV files carry LIST/fact chunks between fmt and data — the
    chunk walk must skip them (with word alignment for odd lengths)."""
    import struct

    import numpy as np

    samples = np.linspace(-0.5, 0.5, 32).reshape(-1, 1)
    payload = mm.encode_wav(samples, 8000)
    # Splice an odd-length LIST chunk after the fmt chunk (offset 12+8+16).
    cut = 12 + 8 + 16
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\0"  # pad to even
    spliced = payload[:cut] + junk + payload[cut:]
    sr, nc, bd, ns, decoded = mm.decode_wav(spliced)
    assert (sr, nc, bd, ns) == (8000, 1, 16, 32)
    assert np.allclose(decoded, samples, atol=1.5 / 32768.0)


def test_wav_rejects_non_audio():
    with pytest.raises(ValueError):
        mm.decode_wav(b"not audio at all")


def test_audio_meta_real_wav_through_spark(spark):
    """End-to-end: real WAV bytes flow through the raw-payload
    mapInPandas kernel, decoded by the real chunk-walk decoder."""
    import numpy as np

    tone = np.sin(np.linspace(0, 40 * np.pi, 4000)).reshape(-1, 1) * 0.5
    wav = mm.encode_wav(tone, 16000)
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id LONG, payload BINARY")
    rows = {
        r.doc_id: r
        for r in df.mapInPandas(
            mm.audio_meta_batches, schema=mm.AUDIO_SCHEMA
        ).collect()
    }
    assert (rows[1].sample_rate, rows[1].n_channels, rows[1].bit_depth) == (
        16000, 1, 16,
    )
    assert rows[1].n_samples == 4000
    assert rows[1].duration_s == pytest.approx(0.25)
    # RMS of a 0.5-amplitude sine ≈ 0.5/√2.
    assert rows[1].rms == pytest.approx(0.5 / 2**0.5, rel=1e-3)


def test_mm_audio_meta_catalog_query(spark, sf_dir):
    df = SPECS["mm_audio_meta"].builder(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.duration_s > 0 for r in rows)


def test_wav_empty_data_chunk():
    import numpy as np

    payload = mm.encode_wav(np.zeros((0, 1)), 8000)
    sr, nc, bd, ns, decoded = mm.decode_wav(payload)
    assert (sr, nc, bd, ns) == (8000, 1, 16, 0)
    assert mm.audio_meta(payload)[5] == 0.0  # rms of empty = 0, no NaN


def test_wav_three_channels():
    import numpy as np

    samples = np.linspace(-0.4, 0.4, 30).reshape(10, 3)
    sr, nc, bd, ns, decoded = mm.decode_wav(mm.encode_wav(samples, 22050))
    assert (sr, nc, ns) == (22050, 3, 10)
    assert np.allclose(decoded, samples, atol=1.5 / 32768.0)


def test_wav_missing_data_chunk_rejected():
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    payload = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
    payload += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    with pytest.raises(ValueError):
        mm.decode_wav(payload)


def test_avi_roundtrip():
    import numpy as np

    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(10, 6, 4, 3), dtype=np.uint8)
    payload = mm.encode_avi(frames, fps=12)
    w, h, n, fps, decoded = mm.decode_avi(payload)
    assert (w, h, n, fps) == (4, 6, 10, 12)
    assert np.array_equal(decoded, frames)


def test_avi_roundtrip_odd_width_row_padding():
    """w=3 → 9-byte BGR rows padded to 12; the pad bytes must not leak
    into decoded pixels."""
    import numpy as np

    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, size=(3, 5, 3, 3), dtype=np.uint8)
    w, h, n, fps, decoded = mm.decode_avi(mm.encode_avi(frames, fps=5))
    assert (w, h, n) == (3, 5, 3)
    assert np.array_equal(decoded, frames)


def test_avi_frame_sampling_uniform_and_png_encoded():
    """sample_frames_avi picks floor(i·total/n) source frames and emits
    each as a standalone PNG that decodes back to the exact pixels."""
    import numpy as np

    # Frame f is a constant image of value f*20 → sampled PNGs identify
    # exactly which source frames were picked.
    frames = np.stack(
        [np.full((4, 4, 3), f * 20, dtype=np.uint8) for f in range(10)]
    )
    payload = mm.encode_avi(frames, fps=10)
    out = mm.sample_frames_avi(payload, 4)
    assert len(out) == 4
    picked = []
    for png in out:
        w, h, c, px = mm.decode_png(png)
        assert (w, h, c) == (4, 4, 3)
        vals = set(np.asarray(px).flatten().tolist())
        assert len(vals) == 1
        picked.append(vals.pop() // 20)
    assert picked == [0, 2, 5, 7]  # i * 10 // 4


def test_avi_fewer_frames_than_requested():
    import numpy as np

    frames = np.zeros((2, 3, 3, 3), dtype=np.uint8)
    out = mm.sample_frames_avi(mm.encode_avi(frames), n_frames=4)
    assert len(out) == 2  # every frame once, no duplicates


def test_avi_rejects_non_video_and_compressed():
    import struct

    import numpy as np

    with pytest.raises(ValueError):
        mm.decode_avi(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    # Flip biCompression to a non-zero codec fourcc → NotImplementedError.
    payload = bytearray(mm.encode_avi(np.zeros((1, 2, 2, 3), dtype=np.uint8)))
    strf_at = payload.find(b"strf")
    # biCompression is the 4th dword after the 40-byte header start.
    comp_at = strf_at + 8 + 16
    payload[comp_at : comp_at + 4] = b"MJPG"
    with pytest.raises(NotImplementedError):
        mm.decode_avi(bytes(payload))


def test_frame_sample_real_avi_through_spark(spark):
    """End-to-end: real AVI bytes flow through the raw-payload
    mapInPandas kernel — fan-out to PNG-encoded keyframes."""
    import numpy as np

    frames = np.stack(
        [np.full((4, 4, 3), f * 10, dtype=np.uint8) for f in range(8)]
    )
    avi = mm.encode_avi(frames, fps=4)
    df = spark.createDataFrame([(1, bytearray(avi))], "doc_id LONG, payload BINARY")
    got: dict[tuple[int, int], bytes] = {}
    for r in df.mapInPandas(mm.frame_sample_batches, schema=mm.FRAME_SCHEMA).collect():
        got[(r.doc_id, r.frame_idx)] = bytes(r.frame)
    avi_frames = [v for (d, _), v in sorted(got.items()) if d == 1]
    assert avi_frames == mm.sample_frames_avi(avi)
    assert len(avi_frames) == 4
    assert {d for d, _ in got} == {1}


# --- perceptual hash (aHash) ------------------------------------------------


def _checker_png(size: int = 32, noise_seed: int | None = None) -> bytes:
    """Deterministic high-contrast test image (checkerboard + gradient);
    optional single-cell perturbation to model a small local edit."""
    import numpy as np

    y, x = np.mgrid[0:size, 0:size]
    px = ((x // 4 + y // 4) % 2 * 160 + x * 2).astype(np.uint8)
    px = np.stack([px, px, px], axis=2)
    if noise_seed is not None:
        rng = np.random.default_rng(noise_seed)
        yy, xx = rng.integers(0, size, 2)
        px[yy, xx] = 255 - px[yy, xx]
    return mm.encode_png(px)


def test_phash_is_resize_invariant():
    """The perceptual property: the SAME image at different resolutions
    hashes (near-)identically — byte-level digests can never do this."""
    import numpy as np

    big = _checker_png(64)
    small = mm.resize_image(big, 32, 32)
    hb, hs = mm.phash_bands_image(big), mm.phash_bands_image(small)
    ham = sum(int(a ^ b).bit_count() for a, b in zip(hb, hs))
    assert ham <= 3, f"resize moved the hash by {ham} bits"


def test_phash_tolerates_local_edit_but_separates_images():
    edited = mm.phash_bands_image(_checker_png(32, noise_seed=7))
    base = mm.phash_bands_image(_checker_png(32))
    ham_near = sum(int(a ^ b).bit_count() for a, b in zip(base, edited))
    assert ham_near <= mm.PHASH_MAXH, f"one-pixel edit moved {ham_near} bits"

    import numpy as np

    other_px = (np.arange(32 * 32) % 251).astype(np.uint8).reshape(32, 32)
    other = mm.phash_bands_image(mm.encode_png(np.stack([other_px] * 3, axis=2)))
    ham_far = sum(int(a ^ b).bit_count() for a, b in zip(base, other))
    assert ham_far > mm.PHASH_MAXH, f"unrelated images only {ham_far} bits apart"


def test_bmp_encode_decode_roundtrip():
    """encode_bmp is the exact inverse of decode_bmp's 24-bit path,
    including bottom-up row order, BGR byte order, and row padding
    (width 5 -> 15-byte rows padded to 16)."""
    import numpy as np

    px = (np.arange(7 * 5 * 3) % 253).astype(np.uint8).reshape(7, 5, 3)
    w, h, c, back = mm.decode_bmp(mm.encode_bmp(px))
    assert (w, h, c) == (5, 7, 3)
    assert np.array_equal(back, px)


def test_render_phash_image_decodes_to_the_clamped_text_law():
    """The rendered corpus pins the whole image pipeline: the REAL
    decode (PNG for even ids, BMP for odd) -> grayscale -> 8x8 resample
    -> aHash must equal the 255-clamped positional hash of the source
    text computed directly — the law the SQL oracle replays."""
    text = "señor " + "the quick brown fox jumps over the lazy dog " * 3
    n = len(text)
    vals = [min(ord(text[(k * n) // mm.PHASH_POS]), 255) for k in range(mm.PHASH_POS)]
    total = sum(vals)
    bits = [1 if mm.PHASH_POS * v >= total else 0 for v in vals]
    expect = [
        sum(bits[j * 16 + i] << i for i in range(16)) for j in range(mm.PHASH_BANDS)
    ]
    for doc_id in (2, 3):  # PNG and BMP arms
        img = mm.render_phash_image(text, doc_id)
        assert img[:8] == mm._PNG_MAGIC if doc_id % 2 == 0 else img[:2] == b"BM"
        assert mm.phash_bands_image(img) == expect


def test_audio_cross_law_non_ascii_stays_on_int16_grid():
    """The render→decode audio law clamps codepoints to 191 so every
    sample sits on the int16 quantization grid: (191-64)*256 = 32512 <=
    32767. A 255 bound (ADVICE r12) sent codes 192..255 to samples up
    to 48896, which encode_wav clips — silently diverging from the
    oracle's un-clipped prediction for any non-ASCII text. This pins
    the law on codepoints from every regime: ASCII, 192..255 (the
    formerly-clipping band), and astral."""
    import pandas as pd

    text = "abc\xc0\xff中"  # 97.., 192, 255, 20013
    pdf = pd.DataFrame({"doc_id": [0], "text": [text]})
    (out,) = list(mm.audio_cross_batches(iter([pdf])))
    want = sum((min(ord(c), 191) - 64) * 256 for c in text)
    assert int(out["sample_sum"][0]) == want
    assert int(out["n_samples"][0]) == len(text)
