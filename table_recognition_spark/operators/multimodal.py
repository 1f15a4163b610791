"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
kernels.

Real and tested, all pure numpy/stdlib: PNG + baseline JPEG decode,
image stats, nearest-neighbour resize, patch mean-pool embeddings,
RIFF/WAVE PCM audio decode + stats, and a deterministic length-prefixed
video container (TRV0, JPEG frames from our own encoder) with
evenly-spaced frame sampling + per-frame stats.
Each decode picks its codec by the payload's magic prefix; any other
container raises ``NotImplementedError``.

These run on the fixture media table (the driver's testdata carries no
binary column), so their correctness check is rows-only plus pytest
determinism assertions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..fixtures.generate import png_decode_gray8

IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("ink_ratio", T.DoubleType()),
    ]
)

EMBED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("patch_embedding", T.ArrayType(T.FloatType())),
    ]
)


# The reference dataset is JPEG (graph.py:103,174 reads .jpg); both PNG
# (our zlib-only decoder) and baseline JPEG (core/jpeg.py, pure-numpy
# Huffman + dequant + IDCT) are built in, so the reference's actual
# corpus is ingestible with no native codec library.
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff"


def decode_image(data: bytes) -> np.ndarray:
    """Decode a binary image payload to an HxW uint8 array by its magic
    prefix: PNG (grayscale 8-bit zlib) or baseline-sequential JPEG, both
    pure numpy; any other container raises."""
    head = bytes(data[:8])
    if head.startswith(PNG_MAGIC):
        return png_decode_gray8(bytes(data))
    if head.startswith(JPEG_MAGIC):
        from ..core.jpeg import jpeg_decode_gray8

        return jpeg_decode_gray8(bytes(data))
    raise NotImplementedError(f"unknown image container: {head!r}")


def decode_image_visual(data: bytes) -> np.ndarray:
    """Decode an image for the G3 visual path: JPEG streams decode to
    (H, W, 3) color via ``jpeg_decode_rgb`` — matching the 3-channel
    ``cv2.imread`` the reference feeds its CNN (graph.py:174) — while
    PNG (our grayscale fixture container) stays (H, W) and is
    replicated to 3 channels inside ``crop_regions``; other containers
    go to :func:`decode_image`."""
    head = bytes(data[:8])
    if head.startswith(JPEG_MAGIC):
        from ..core.jpeg import jpeg_decode_rgb

        return jpeg_decode_rgb(bytes(data))
    return decode_image(data)


def decode_audio(data: bytes) -> np.ndarray:
    """Decode an audio payload → (float32 mono samples in [-1, 1],
    sample_rate). RIFF/WAVE PCM (8/16/32-bit int) is built in via the
    stdlib ``wave`` parser + numpy frombuffer — no codec library needed
    for the uncompressed container. Compressed codecs (mp3/aac/ogg)
    raise."""
    import io
    import wave

    if bytes(data[:4]) != b"RIFF":
        raise NotImplementedError(
            f"audio decode: unknown/compressed container {bytes(data[:4])!r}"
            "; only RIFF/WAVE PCM is built in"
        )
    with wave.open(io.BytesIO(bytes(data)), "rb") as w:
        n = w.getnframes()
        sw = w.getsampwidth()
        ch = w.getnchannels()
        rate = w.getframerate()
        raw = w.readframes(n)
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    elif sw == 1:  # 8-bit WAV is unsigned
        x = (
            np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0
        ) / 128.0
    else:
        raise NotImplementedError(f"WAV sample width {sw} unsupported")
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)  # mono mixdown
    return x, rate


# --- video ------------------------------------------------------------
# Built in: TRV0, a deterministic length-prefixed frame container whose
# frames are baseline JPEGs from our own encoder (core/jpeg.py) — a fully
# real decode path with no native codec library. Real-world containers
# (mp4/webm) raise.
VIDEO_MAGIC = b"TRV0"


def video_encode(frames: list, fps: int) -> bytes:
    """Write the TRV0 container: magic + u16 fps + u32 n_frames, then
    u32 length-prefixed encoded frame payloads (each a self-describing
    image container, JPEG for our fixtures)."""
    import struct

    out = [VIDEO_MAGIC, struct.pack("<HI", fps, len(frames))]
    for f in frames:
        out.append(struct.pack("<I", len(f)))
        out.append(bytes(f))
    return b"".join(out)


def decode_video(data: bytes):
    """Decode a TRV0 video payload → (fps, [frame_bytes, ...]); any other
    container raises."""
    import struct

    data = bytes(data)
    if data[:4] != VIDEO_MAGIC:
        raise NotImplementedError(
            f"video decode: unknown container {data[:8]!r}; only TRV0 is "
            "built in"
        )
    fps, n = struct.unpack_from("<HI", data, 4)
    frames = []
    off = 10
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", data, off)
        off += 4
        frames.append(data[off : off + ln])
        off += ln
    return fps, frames


def sample_frames(frames: list, n: int) -> list:
    """Evenly-spaced sample over an already-decoded frame list: up to
    ``n`` (frame_idx, frame_bytes) pairs at stride len/n (deterministic —
    the first frame of each of ``n`` equal time buckets, the standard
    keyframe-ish sampling a training pipeline wants)."""
    total = len(frames)
    if total == 0:
        return []
    n = min(n, total)
    idxs = sorted({(i * total) // n for i in range(n)})
    return [(i, frames[i]) for i in idxs]


VIDEO_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("ink_ratio", T.DoubleType()),
    ]
)


def video_frame_stats(video_df: DataFrame, n_sample: int = 4) -> DataFrame:
    """(media_ref, video:binary) → one row per sampled frame with the
    same intensity stats as :func:`image_stats`. Arrow-batched
    ``mapInPandas``, one container decode per clip, sampled frames only
    are image-decoded (a 10k-frame clip decodes ``n_sample`` JPEGs, not
    10k) — the decode-cost shape that survives long videos at scale."""

    def fn(batches):
        for pdf in batches:
            rows = []
            for ref, raw in zip(pdf["media_ref"], pdf["video"]):
                fps, frames = decode_video(raw)
                dur = (
                    int(round(len(frames) * 1000 / fps)) if fps else 0
                )
                for idx, fb in sample_frames(frames, n_sample):
                    img = decode_image(fb)
                    h, w = img.shape[:2]
                    rows.append(
                        (
                            ref,
                            int(len(frames)),
                            int(fps),
                            dur,
                            int(idx),
                            w,
                            h,
                            float(np.round(img.mean(dtype=np.float64), 6)),
                            float(
                                np.round((img < 255).mean(dtype=np.float64), 6)
                            ),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "n_frames", "fps", "duration_ms",
                    "frame_idx", "width", "height", "mean_intensity",
                    "ink_ratio",
                ],
            )

    return video_df.select("media_ref", "video").mapInPandas(
        fn, VIDEO_FRAME_STATS_SCHEMA
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


def audio_stats(audio_df: DataFrame) -> DataFrame:
    """(media_ref, audio:binary) → per-clip stats via
    :func:`decode_audio` — the same Arrow-batched ``mapInPandas`` shape
    as :func:`image_stats`."""

    def fn(batches):
        for pdf in batches:
            rows = []
            for ref, raw in zip(pdf["media_ref"], pdf["audio"]):
                x, rate = decode_audio(raw)
                rows.append(
                    (
                        ref,
                        int(rate),
                        int(len(x)),
                        int(round(len(x) * 1000 / rate)) if rate else 0,
                        float(
                            np.round(
                                np.sqrt(np.mean(np.square(x, dtype=np.float64)))
                                if len(x)
                                else 0.0,
                                6,
                            )
                        ),
                        float(np.round(np.abs(x).max() if len(x) else 0.0, 6)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "sample_rate", "n_samples",
                    "duration_ms", "rms", "peak",
                ],
            )

    return audio_df.select("media_ref", "audio").mapInPandas(
        fn, AUDIO_STATS_SCHEMA
    )


def image_stats(media_df: DataFrame) -> DataFrame:
    """Decode each PNG once per distinct media_ref and emit dimensions,
    mean intensity and ink ratio (fraction of non-background pixels)."""

    def fn(batches):
        for pdf in batches:
            rows = []
            for ref, img_bytes in zip(pdf["media_ref"], pdf["image"]):
                img = decode_image(img_bytes)
                h, w = img.shape
                rows.append(
                    (
                        ref,
                        w,
                        h,
                        float(np.round(img.mean(dtype=np.float64), 6)),
                        float(
                            np.round((img < 255).mean(dtype=np.float64), 6)
                        ),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_ref", "width", "height",
                               "mean_intensity", "ink_ratio"]
            )

    return media_df.select("media_ref", "image").mapInPandas(
        fn, IMAGE_STATS_SCHEMA
    )


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    h, w = img.shape
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


def patch_embeddings(media_df: DataFrame, grid: int = 4) -> DataFrame:
    """Feature extraction: mean-pool a grid×grid patch grid → a
    grid²-dim float32 embedding per image (deterministic; the shape a
    real vision encoder would slot into)."""

    def fn(batches):
        for pdf in batches:
            refs, embs = [], []
            for ref, img_bytes in zip(pdf["media_ref"], pdf["image"]):
                img = decode_image(img_bytes).astype(np.float32) / 255.0
                th = resize_nearest(img, grid * 8, grid * 8)
                pooled = th.reshape(grid, 8, grid, 8).mean(axis=(1, 3))
                refs.append(ref)
                embs.append(pooled.reshape(-1).astype(np.float32))
            yield pd.DataFrame(
                {"media_ref": refs, "patch_embedding": embs}
            )

    return media_df.select("media_ref", "image").mapInPandas(fn, EMBED_SCHEMA)


def patch_embeddings_flat(media_df: DataFrame, grid: int = 4) -> DataFrame:
    """Driver/oracle-facing shape of :func:`patch_embeddings`: the
    ``array<float>`` column exploded to one row per ``(media_ref,
    patch_idx, value)``. Array columns are unsortable/unhashable in a
    pandas canonicalizer (round-1 driver failure), so the query surface
    emits scalars only; pipelines keep the packed array form."""
    from pyspark.sql import functions as F

    emb = patch_embeddings(media_df, grid=grid)
    return (
        emb.select(
            "media_ref",
            F.posexplode("patch_embedding").alias("patch_idx", "raw"),
        )
        # round to 6dp in float64 so the value is reproducible across
        # arrow float32 -> pandas float64 widening on either side
        .select(
            "media_ref",
            "patch_idx",
            F.round(F.col("raw").cast("double"), 6).alias("value"),
        )
        .orderBy("media_ref", "patch_idx")
    )
