import numpy as np
import pytest

from table_recognition_spark.fixtures.generate import (
    corpus_to_spark,
    png_decode_gray8,
)
from table_recognition_spark.operators.multimodal import (
    decode_audio,
    decode_image,
    decode_video,
    image_stats,
    patch_embeddings,
    resize_nearest,
)


def test_decode_image_stubs():
    with pytest.raises(NotImplementedError):
        decode_image(b"GIF89a...")
    with pytest.raises(NotImplementedError, match="only RIFF/WAVE PCM"):
        decode_audio(b"OggS compressed")
    with pytest.raises(NotImplementedError, match="only TRV0"):
        decode_video(b"\x00\x00\x00\x20ftypisom fake mp4")


def test_resize_nearest_dims():
    img = np.arange(100, dtype=np.uint8).reshape(10, 10)
    out = resize_nearest(img, 4, 6)
    assert out.shape == (4, 6)
    assert out[0, 0] == img[0, 0]


@pytest.mark.spark
def test_image_stats_match_local_decode(spark, tiny_corpus):
    _, media, _ = tiny_corpus
    _, media_df = corpus_to_spark(spark, [], media)
    got = {r["media_ref"]: r.asDict() for r in image_stats(media_df).collect()}
    assert len(got) == len(media)
    for m in media:
        img = png_decode_gray8(m["image"])
        r = got[m["media_ref"]]
        assert (r["width"], r["height"]) == (m["width"], m["height"])
        assert r["mean_intensity"] == float(
            np.round(img.mean(dtype=np.float64), 6)
        )
        assert 0 < r["ink_ratio"] < 1


@pytest.mark.spark
def test_patch_embeddings_shape(spark, tiny_corpus):
    _, media, _ = tiny_corpus
    _, media_df = corpus_to_spark(spark, [], media)
    rows = patch_embeddings(media_df).collect()
    assert all(len(r["patch_embedding"]) == 16 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["patch_embedding"])


def test_jpeg_codec_injection_seam():
    """decode_image routes JPEG payloads to the built-in pure-numpy
    baseline codec and PNG payloads to the zlib decoder, by magic."""
    from table_recognition_spark.core.jpeg import jpeg_encode_gray8
    from table_recognition_spark.fixtures.generate import png_encode

    img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 251
    assert decode_image(jpeg_encode_gray8(img)).shape == img.shape
    assert np.array_equal(decode_image(png_encode(img)), img)


def _wav_bytes(samples, rate=16000, ch=1, width=2):
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 2:
            raw = (np.asarray(samples) * 32767).astype("<i2").tobytes()
        else:
            raw = (
                (np.asarray(samples) * 127 + 128).clip(0, 255)
                .astype(np.uint8).tobytes()
            )
        w.writeframes(raw)
    return buf.getvalue()


def test_decode_audio_wav_pcm():
    import numpy as np

    t = np.arange(1600) / 16000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    x, rate = decode_audio(_wav_bytes(sig))
    assert rate == 16000 and len(x) == 1600
    assert np.abs(x - sig).max() < 1e-3  # 16-bit quantization error
    # stereo mixes down to mono
    stereo = np.stack([sig, -sig], axis=1).reshape(-1)
    x2, _ = decode_audio(_wav_bytes(stereo, ch=2))
    assert len(x2) == 1600 and np.abs(x2).max() < 1e-3
    # compressed container raises
    import pytest as _pt

    with _pt.raises(NotImplementedError, match="only RIFF/WAVE PCM"):
        decode_audio(b"ID3\x03 mp3-ish")


@pytest.mark.spark
def test_audio_stats_over_wav_table(spark):
    import numpy as np
    import pandas as pd

    from table_recognition_spark.operators.multimodal import audio_stats

    t = np.arange(8000) / 8000.0
    rows = [
        {"media_ref": "a0", "audio": _wav_bytes(0.5 * np.sin(2 * np.pi * 440 * t), rate=8000)},
        {"media_ref": "a1", "audio": _wav_bytes(np.zeros(100), rate=8000)},
    ]
    got = {
        r["media_ref"]: r.asDict()
        for r in audio_stats(spark.createDataFrame(pd.DataFrame(rows))).collect()
    }
    assert got["a0"]["sample_rate"] == 8000
    assert got["a0"]["duration_ms"] == 1000
    assert abs(got["a0"]["rms"] - 0.5 / np.sqrt(2)) < 1e-3
    assert got["a1"]["rms"] == 0.0 and got["a1"]["n_samples"] == 100


@pytest.mark.spark
def test_fixture_audio_stats_pinned(spark):
    """The driver-facing media_audio_stats query decodes the seeded WAV
    fixture deterministically; values pinned vs a local decode."""
    import numpy as np

    from table_recognition_spark.operators.multimodal import (
        audio_stats,
        decode_audio,
    )
    from table_recognition_spark.pipeline.flagship import fixture_audio

    fa = fixture_audio(spark)
    got = {r["media_ref"]: r.asDict() for r in audio_stats(fa).collect()}
    raw = {r["media_ref"]: (bytes(r["audio"]), r["n_samples"])
           for r in fa.collect()}
    assert len(got) == 16
    for ref, (wav, n_samples) in raw.items():
        x, rate = decode_audio(wav)
        r = got[ref]
        assert r["sample_rate"] == rate == 8000
        assert r["n_samples"] == len(x) == n_samples
        assert r["rms"] == float(
            np.round(np.sqrt(np.mean(np.square(x, dtype=np.float64))), 6)
        )


def test_video_container_roundtrip():
    """TRV0 container: encode N frame payloads, decode back bit-exact."""
    from table_recognition_spark.operators.multimodal import (
        decode_video,
        video_encode,
    )

    frames = [b"frame-%d-payload" % i * (i + 1) for i in range(7)]
    blob = video_encode(frames, fps=10)
    fps, out = decode_video(blob)
    assert fps == 10
    assert out == frames


def test_video_frame_sampling_even_spacing():
    from table_recognition_spark.operators.multimodal import (
        decode_video,
        sample_frames,
        video_encode,
    )

    def sample(blob, n):
        return sample_frames(decode_video(blob)[1], n)

    frames = [bytes([i]) for i in range(12)]
    blob = video_encode(frames, fps=5)
    # n < total: evenly spaced bucket starts, deterministic
    assert [i for i, _ in sample(blob, 4)] == [0, 3, 6, 9]
    # n >= total: every frame once
    assert [i for i, _ in sample(blob, 99)] == list(range(12))
    # payloads come back from the right indices
    assert [b for _, b in sample(blob, 4)] == [
        bytes([0]), bytes([3]), bytes([6]), bytes([9])
    ]
    # empty container
    assert sample(video_encode([], fps=5), 4) == []


@pytest.mark.spark
def test_fixture_video_frame_stats_pinned(spark):
    """media_video_frame_stats decodes the seeded TRV0/JPEG fixture
    deterministically; per-frame stats pinned vs a local decode of the
    same sampled frames."""
    import numpy as np

    from table_recognition_spark.operators.multimodal import (
        decode_image,
        decode_video,
        sample_frames,
        video_frame_stats,
    )
    from table_recognition_spark.pipeline.flagship import fixture_video

    fv = fixture_video(spark)
    got = [
        r.asDict()
        for r in video_frame_stats(fv, n_sample=4)
        .orderBy("media_ref", "frame_idx")
        .collect()
    ]
    raw = {r["media_ref"]: bytes(r["video"]) for r in fv.collect()}
    meta = {r["media_ref"]: (r["n_frames"], r["fps"]) for r in fv.collect()}
    assert len(raw) == 8
    assert len(got) == 8 * 4  # every fixture clip has >= 6 frames
    by_clip: dict = {}
    for row in got:
        by_clip.setdefault(row["media_ref"], []).append(row)
    for ref, blob in raw.items():
        n_frames, fps = meta[ref]
        _f, frames = decode_video(blob)
        assert _f == fps and len(frames) == n_frames
        rows = by_clip[ref]
        expected = sample_frames(frames, 4)
        assert [r["frame_idx"] for r in rows] == [i for i, _ in expected]
        for r, (_i, fb) in zip(rows, expected):
            img = decode_image(fb)
            assert (r["width"], r["height"]) == (64, 48)
            assert r["n_frames"] == n_frames and r["fps"] == fps
            assert r["duration_ms"] == int(round(n_frames * 1000 / fps))
            assert r["mean_intensity"] == float(
                np.round(img.mean(dtype=np.float64), 6)
            )
            assert r["ink_ratio"] == float(
                np.round((img < 255).mean(dtype=np.float64), 6)
            )
