"""Flagship corpus builder: derive an interleaved text+media docs table
from the driver's ``documents.parquet`` deterministically (pure DataFrame
ops — no driver-side loop, no RNG), attach seeded fixture media, and run
the extraction pipeline. This is what ``__spark_entry__.entry`` executes.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..fixtures.generate import corpus_to_spark, make_corpus
from .extract import extract_flat

N_MEDIA = 24

_DIST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "dist",
)


def _publish_once(name: str, write) -> str:
    """Return ``dist/<name>``, first building it if absent: ``write(path)``
    fills a private temp path, published by an atomic rename."""
    path = os.path.join(_DIST, name)
    if not os.path.exists(path):
        os.makedirs(_DIST, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=_DIST)
        try:
            data = os.path.join(tmp, "data")
            write(data)
            try:
                os.rename(data, path)
            except OSError:
                # a concurrent writer published first; its output is identical
                if not os.path.exists(path):
                    raise
        finally:  # never leave tmp residue
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _cached_parquet(spark: SparkSession, name: str, build_df) -> DataFrame:
    """Scan ``dist/<name>.parquet``, first writing ``build_df()`` there if
    it is absent (one coalesced file)."""

    def write(data):
        build_df().coalesce(1).write.mode("overwrite").parquet(data)

    return spark.read.parquet(_publish_once(f"{name}.parquet", write))


def interleaved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id:int, text, ...) → docs(doc_id:string, spans).

    Every doc gets a boilerplate-wrapped text span; every third doc also
    references a fixture table image chosen by doc_id (deterministic).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text_payload = F.concat(
        F.lit("<nav>site menu</nav><p>"),
        F.col("text"),
        F.lit("</p><footer>(c) corp</footer>"),
    )
    text_span = F.struct(
        F.lit("text").alias("kind"),
        text_payload.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.concat(
            F.lit("img_"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(N_MEDIA)).cast("string"), 5, "0"),
        ).alias("media_ref"),
        F.lit(1).cast("int").alias("offset"),
    )
    return docs.select(
        F.concat(F.lit("doc_"), F.lpad(F.col("doc_id").cast("string"), 6, "0")
                 ).alias("doc_id"),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 0,
            F.array(text_span, media_span),
        )
        .otherwise(F.array(text_span))
        .alias("spans"),
    )


def fixture_media(spark: SparkSession, n_media: int = N_MEDIA) -> DataFrame:
    """Seeded fixture media table, materialized ONCE to parquet and
    scanned thereafter. Round-1 bench regenerated + re-shipped the PNG
    corpus from the driver on every query, so multimodal bench times
    measured setup, not compute."""

    def build():
        _, media, _ = make_corpus(0, n_media, seed=42)
        return corpus_to_spark(spark, [], media)[1]

    return _cached_parquet(spark, f"fixture_media_n{n_media}_seed42", build)


def fixture_pagexml(spark: SparkSession, n_media: int = N_MEDIA) -> str:
    """Directory of PAGE-XML files, one ``<media_ref>.xml`` per
    :func:`fixture_media` row (its OCR lines and page size), written once
    to ``dist/`` and reused thereafter; returns the directory."""
    from ..sources.pagexml import ocr_lines_to_page_xml

    def write(d):
        os.makedirs(d)
        rows = (
            fixture_media(spark, n_media)
            .select("media_ref", "width", "height", "ocr_lines")
            .collect()
        )
        for r in rows:
            xml = ocr_lines_to_page_xml(
                [ln.asDict(recursive=True) for ln in r.ocr_lines],
                r.width,
                r.height,
            )
            path = os.path.join(d, f"{r.media_ref}.xml")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(xml)

    return _publish_once(f"fixture_pagexml_n{n_media}_seed42", write)


def fixture_gt(spark: SparkSession, n_media: int = N_MEDIA) -> DataFrame:
    """Seeded fixture ground-truth cells table (same corpus/seed as
    :func:`fixture_media`), parquet-cached the same way."""

    def build():
        _, media, gt = make_corpus(0, n_media, seed=42)
        return corpus_to_spark(spark, [], media, gt)[2]

    return _cached_parquet(spark, f"fixture_gt_n{n_media}_seed42", build)


def fixture_audio(spark: SparkSession, n_clips: int = 16) -> DataFrame:
    """Seeded fixture audio table (media_ref, audio:binary WAV PCM,
    expected duration/rate metadata), parquet-cached like
    :func:`fixture_media`. Deterministic: clip i is a two-tone sine mix
    at 8 kHz with seeded amplitudes/frequencies."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    def build():
        rows = []
        rate = 8000
        for i in range(n_clips):
            rng = np.random.default_rng([42, 1000 + i])
            dur = float(rng.integers(4, 17)) / 8.0  # 0.5..2.0 s
            t = np.arange(int(dur * rate)) / rate
            f1, f2 = rng.integers(100, 900, 2)
            a1, a2 = rng.uniform(0.1, 0.45, 2)
            sig = a1 * np.sin(2 * np.pi * f1 * t) + a2 * np.sin(
                2 * np.pi * f2 * t
            )
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(
                    (sig * 32767).clip(-32768, 32767).astype("<i2").tobytes()
                )
            rows.append(
                {
                    "media_ref": f"wav_{i:05d}",
                    "audio": buf.getvalue(),
                    "sample_rate": rate,
                    "n_samples": len(t),
                }
            )
        return spark.createDataFrame(pd.DataFrame(rows))

    return _cached_parquet(spark, f"fixture_audio_n{n_clips}_seed42", build)


def fixture_video(spark: SparkSession, n_clips: int = 8) -> DataFrame:
    """Seeded fixture video table (media_ref, video:binary TRV0
    container of baseline-JPEG frames from core/jpeg.py's own encoder),
    parquet-cached like :func:`fixture_media`. Deterministic: clip i is
    6-12 frames of a seeded gradient with a rectangle marching across —
    adjacent frames differ, so frame sampling is observable."""
    import numpy as np
    import pandas as pd

    from ..core.jpeg import jpeg_encode_gray8
    from ..operators.multimodal import video_encode

    def build():
        rows = []
        h, w = 48, 64
        for i in range(n_clips):
            rng = np.random.default_rng([42, 2000 + i])
            n_frames = int(rng.integers(6, 13))
            fps = int(rng.choice([5, 10, 15]))
            base = (
                np.linspace(40, 200, w, dtype=np.float64)[None, :]
                + rng.integers(0, 30)
            )
            frames = []
            for f in range(n_frames):
                img = np.broadcast_to(base, (h, w)).copy()
                x0 = (f * 7 + int(rng.integers(0, 5))) % (w - 16)
                y0 = (f * 3) % (h - 12)
                img[y0 : y0 + 12, x0 : x0 + 16] = 235
                frames.append(
                    jpeg_encode_gray8(img.clip(0, 255).astype(np.uint8))
                )
            rows.append(
                {
                    "media_ref": f"vid_{i:05d}",
                    "video": video_encode(frames, fps),
                    "n_frames": n_frames,
                    "fps": fps,
                }
            )
        return spark.createDataFrame(pd.DataFrame(rows))

    return _cached_parquet(spark, f"fixture_video_n{n_clips}_seed42", build)


def flagship(spark: SparkSession, sf_dir: str, weights: dict) -> DataFrame:
    """The end-to-end flagship: interleaved docs → extraction → flat spans."""
    docs_df = interleaved_docs(spark, sf_dir)
    media_df = fixture_media(spark)
    return extract_flat(docs_df, media_df, weights)
