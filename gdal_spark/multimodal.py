"""Multimodal (image/audio/video) columns for the training-data pipeline.

Media are opaque ``BINARY`` payloads + a typed metadata struct; all
processing is Arrow-batched ``mapInPandas`` with REAL Spark plumbing
(schemas, partitioning, batch shapes) and a clearly-gated decode step.
``decode="real"`` decodes PNG and baseline JPEG payloads IN-CONTAINER
via the hand-rolled codecs (sources/png.py, sources/jpeg.py — the JPEG
path is bit-exact with the reference's vendored libjpeg 6b); other
formats (libav media) still need codecs and raise
``NotImplementedError`` when absent. ``decode``
defaults to a deterministic fake (seeded from the payload bytes) for
plumbing tests that want format-independent pixels. Swapping decoders
changes ONE function — every schema, UDF signature, and shuffle stays
identical.

MEDIA_SCHEMA:
    media_id LONG, kind STRING ('image'|'audio'|'video'), data BINARY,
    width INT, height INT, channels INT, sample_rate INT, n_frames INT
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

MEDIA_SCHEMA = (
    "media_id LONG, kind STRING, data BINARY, width INT, height INT, "
    "channels INT, sample_rate INT, n_frames INT"
)

try:  # pragma: no cover - codec not present in this container
    from PIL import Image as _PIL_Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def _seed_from_bytes(b: bytes) -> int:
    h = 1469598103934665603
    for byte in b[:64]:
        h = ((h ^ byte) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


def fake_decode_image(data: bytes, width: int, height: int, channels: int) -> np.ndarray:
    """Deterministic stand-in decode: pixels seeded from payload bytes.

    Same input bytes → same pixel array on every executor and run, so
    downstream tests are exact. Replace with a real codec by passing
    decode='real' once PIL is available.
    """
    rng = np.random.default_rng(_seed_from_bytes(data))
    return rng.integers(0, 256, (height, width, channels), dtype=np.uint8)


def real_decode_image(data: bytes, *a) -> np.ndarray:
    """Real decode. PNG and baseline JPEG payloads decode IN-CONTAINER
    via the hand-rolled codecs (sources/png.py, sources/jpeg.py — the
    same band model as the reference's drivers); other formats need PIL.
    Shape matches PIL's np.asarray convention: (H, W) for single-band,
    (H, W, C) otherwise."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from gdal_spark.sources.png import decode_png

        bands, _ = decode_png(bytes(data))
        if len(bands) == 1:
            return bands[1]
        return np.stack([bands[b] for b in sorted(bands)], axis=-1)
    if data[:2] == b"\xff\xd8":
        from gdal_spark.sources.jpeg import decode_jpeg

        bands, _ = decode_jpeg(bytes(data))
        if len(bands) == 1:
            return bands[1]
        return np.stack([bands[b] for b in sorted(bands)], axis=-1)
    if data[:2] == b"BM":
        from gdal_spark.sources.bmp import decode_bmp

        bands, _ = decode_bmp(bytes(data))
        if len(bands) == 1:
            return bands[1]
        return np.stack([bands[b] for b in sorted(bands)], axis=-1)
    if not _HAVE_PIL:  # pragma: no cover - PIL absent in this container
        raise NotImplementedError(
            "real decode of non-PNG/JPEG images needs PIL, which is not "
            "installed; PNG/JPEG decode natively (sources/{png,jpeg}.py), or use the "
            "deterministic fake (decode='fake') for plumbing tests"
        )
    import io  # pragma: no cover

    from PIL import Image  # pragma: no cover

    return np.asarray(Image.open(io.BytesIO(data)))  # pragma: no cover


def _decoder(decode: str):
    if decode == "real":
        return real_decode_image
    return fake_decode_image


def synth_media(spark: SparkSession, n: int, kind: str = "image") -> DataFrame:
    """Deterministic media table: payload bytes from xxhash64 chains."""
    df = spark.range(n)
    i = F.col("id")
    payload = F.sha2(F.concat(F.lit(kind), i.cast("string")), 256).cast("binary")
    return df.select(
        i.alias("media_id"),
        F.lit(kind).alias("kind"),
        payload.alias("data"),
        (F.pmod(F.xxhash64(i), F.lit(64)) + 32).cast("int").alias("width"),
        (F.pmod(F.xxhash64(i + 1), F.lit(64)) + 32).cast("int").alias("height"),
        F.lit(3).cast("int").alias("channels"),
        F.when(F.lit(kind) == "audio", F.lit(16000)).otherwise(F.lit(0)).cast("int").alias("sample_rate"),
        F.when(F.lit(kind) == "video", (F.pmod(F.xxhash64(i + 2), F.lit(120)) + 8).cast("int"))
        .otherwise(F.lit(1)).cast("int").alias("n_frames"),
    )


def synth_png_media(spark: SparkSession, n: int) -> DataFrame:
    """Media table whose payloads are REAL PNG bytes (RGB, deterministic
    pixels seeded by media_id, encoded executor-side) — the in-container
    end-to-end path for ``decode='real'``: synth pixels → encode_png →
    Arrow batch → decode_png. An oracle can regenerate the pixels from
    the seeds WITHOUT touching the codec, so a lossy/buggy roundtrip
    cannot hide."""
    from gdal_spark.sources.png import encode_png

    def gen(iterator):
        for pdf in iterator:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                rng = np.random.default_rng(mid + 1)
                w = 32 + mid % 29
                h = 32 + (mid * 7) % 23
                img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                data = encode_png({c + 1: img[:, :, c] for c in range(3)})
                rows.append((mid, "image", data, w, h, 3, 0, 1))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "data", "width", "height",
                         "channels", "sample_rate", "n_frames"],
            )

    return spark.range(n).mapInPandas(gen, MEDIA_SCHEMA)


def synth_jpeg_media(spark: SparkSession, n: int) -> DataFrame:
    """Media table whose payloads are REAL baseline JPEG bytes, built so
    the roundtrip is EXACT despite JPEG being lossy: block-constant
    grayscale pixels (each 8×8 tile one value — only DC coefficients,
    which are multiples of 8 pre-quantization) encoded at quality 100
    (all-1 quantization tables). Any defect anywhere in the encoder or
    decoder chain (headers, Huffman, zigzag, FDCT/IDCT) breaks the
    codec-free oracle's hash."""
    from gdal_spark.sources.jpeg import encode_jpeg

    def gen(iterator):
        for pdf in iterator:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                rng = np.random.default_rng(mid + 1)
                bw = 2 + mid % 5
                bh = 2 + (mid * 3) % 4
                vals = rng.integers(0, 256, (bh, bw), dtype=np.uint8)
                img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
                data = encode_jpeg(img, quality=100)
                rows.append((mid, "image", data, bw * 8, bh * 8, 1, 0, 1))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "data", "width", "height",
                         "channels", "sample_rate", "n_frames"],
            )

    return spark.range(n).mapInPandas(gen, MEDIA_SCHEMA)


def synth_bmp_media(spark: SparkSession, n: int) -> DataFrame:
    """Media table with REAL BMP payloads (24-bit, deterministic pixels
    seeded by media_id, encoded executor-side) — BMP is lossless, so the
    codec-free seed oracle hash-matches exactly, like PNG."""
    from gdal_spark.sources.bmp import encode_bmp

    def gen(iterator):
        for pdf in iterator:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                rng = np.random.default_rng(mid + 1)
                w = 16 + (mid * 5) % 31
                h = 16 + (mid * 11) % 17
                img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
                data = encode_bmp(
                    {1: img[:, :, 0], 2: img[:, :, 1], 3: img[:, :, 2]}
                )
                rows.append((mid, "image", data, w, h, 3, 0, 1))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "data", "width", "height",
                         "channels", "sample_rate", "n_frames"],
            )

    return spark.range(n).mapInPandas(gen, MEDIA_SCHEMA)


def image_features(media: DataFrame, decode: str = "fake") -> DataFrame:
    """Per-image features: (media_id, mean_e6, std_e6, hist ARRAY<LONG>).

    mapInPandas over Arrow batches; one decode per row, vectorized stats.
    """
    dec = _decoder(decode)

    def feat(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                img = dec(bytes(r["data"]), int(r.width), int(r.height), int(r.channels))
                hist = np.bincount(img.ravel() >> 5, minlength=8)
                rows.append(
                    (
                        int(r.media_id),
                        int(np.floor(img.mean() * 1e6 + 0.5)),
                        int(np.floor(img.std() * 1e6 + 0.5)),
                        [int(x) for x in hist],
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "mean_e6", "std_e6", "hist"])

    return media.mapInPandas(
        feat, "media_id LONG, mean_e6 LONG, std_e6 LONG, hist ARRAY<LONG>"
    )


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of the fake-decoded pixels; output raw
    uint8 HWC bytes + dims."""
    dec = fake_decode_image

    def rs(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                img = dec(bytes(r["data"]), int(r.width), int(r.height), int(r.channels))
                ys = (np.arange(out_h) * img.shape[0] // out_h).astype(int)
                xs = (np.arange(out_w) * img.shape[1] // out_w).astype(int)
                out = img[np.ix_(ys, xs)]
                rows.append((int(r.media_id), out_w, out_h, int(r.channels), out.tobytes()))
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "channels", "pixels"])

    return media.mapInPandas(
        rs, "media_id LONG, width INT, height INT, channels INT, pixels BINARY"
    )


def sample_frames(media: DataFrame, every_k: int = 10) -> DataFrame:
    """Video frame sampling plumbing: one row per sampled frame index
    (column math — the decode of each frame is the same gated step)."""
    v = media.filter(F.col("kind") == "video")
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_k))
    return v.select(
        "media_id", F.explode(idx).alias("frame_idx"), "data", "width", "height", "channels"
    )


def fake_decode_audio(data: bytes, sample_rate: int) -> np.ndarray:
    """Deterministic stand-in PCM decode: one second of int16 samples
    seeded from the payload bytes (same contract as fake_decode_image)."""
    rng = np.random.default_rng(_seed_from_bytes(data))
    return rng.integers(-32768, 32768, int(sample_rate), dtype=np.int16)


def audio_features(media: DataFrame) -> DataFrame:
    """Per-clip audio features over the fake decode (no audio codec is
    installed): duration samples, RMS (e6-integerized) and zero-crossing
    count — the audio analogue of image_features (Arrow batches, one
    decode per row, vectorized stats)."""

    def feat(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                pcm = fake_decode_audio(bytes(r["data"]), int(r.sample_rate))
                x = pcm.astype(np.float64)
                rms = float(np.sqrt((x * x).mean()))
                zc = int((np.signbit(x[1:]) != np.signbit(x[:-1])).sum())
                rows.append(
                    (int(r.media_id), len(pcm), int(np.floor(rms * 1e6 + 0.5)), zc)
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_samples", "rms_e6", "zero_crossings"]
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        feat, "media_id LONG, n_samples LONG, rms_e6 LONG, zero_crossings LONG"
    )
