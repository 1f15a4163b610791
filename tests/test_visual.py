import numpy as np
import pytest
from oracles import span_tuples, spans_by_doc

from table_recognition_spark.core import gnn, visual


def _resize(img, out_h, out_w):
    """The whole of ``img`` as one region of ``visual._resize_regions``."""
    one = np.zeros(1, dtype=np.int64)
    return visual._resize_regions(
        img, one, one, one + img.shape[0], one + img.shape[1], out_h, out_w
    )[0]


def test_bilinear_resize_identity_and_shape():
    img = np.arange(100, dtype=np.float32).reshape(10, 10)
    same = _resize(img, 10, 10)
    assert np.allclose(same, img, atol=1e-5)
    up = _resize(img, 16, 16)
    assert up.shape == (16, 16)
    assert up.min() >= img.min() - 1e-5 and up.max() <= img.max() + 1e-5


def test_conv_ops_shapes():
    x = np.random.default_rng(0).normal(size=(2, 3, 10, 10)).astype(np.float32)
    w = visual.init_weights(1)
    out = visual._cnn_forward(x, w, "g3.node_cnn", visual.NODE_CNN)
    assert out.shape == (2, 256)
    xe = np.random.default_rng(1).normal(size=(2, 3, 16, 16)).astype(np.float32)
    oute = visual._cnn_forward(xe, w, "g3.edge_cnn", visual.EDGE_CNN)
    assert oute.shape == (2, 256)


def test_depthwise_matches_naive():
    rng = np.random.default_rng(2)
    x = rng.normal(size=(1, 2, 5, 5)).astype(np.float32)
    w = rng.normal(size=(2, 3, 3)).astype(np.float32)
    b = rng.normal(size=2).astype(np.float32)
    out = visual.depthwise_conv2d(x, w, b)
    xp = np.pad(x, ((0, 0), (0, 0), (1, 1), (1, 1)))
    for c in range(2):
        for i in range(5):
            for j in range(5):
                naive = (xp[0, c, i : i + 3, j : j + 3] * w[c]).sum() + b[c]
                assert np.isclose(out[0, c, i, j], naive, atol=1e-4)


def test_maxpool_and_conv_nopad():
    x = np.arange(32, dtype=np.float32).reshape(1, 2, 4, 4)
    p = visual.maxpool2(x)
    assert p.shape == (1, 2, 2, 2)
    assert p[0, 0, 0, 0] == 5.0  # max of [[0,1],[4,5]]
    w = np.zeros((1, 2, 3, 3), dtype=np.float32)
    w[0, 0, 1, 1] = 1.0
    out = visual.conv2d(x, w, np.zeros(1, dtype=np.float32), pad=0)
    assert out.shape == (1, 1, 2, 2)
    assert out[0, 0, 0, 0] == x[0, 0, 1, 1]


def test_forward_shapes_and_determinism():
    rng = np.random.default_rng(3)
    n, e = 4, 6
    x = rng.normal(size=(n, 4)).astype(np.float32)
    ei = np.array([[0, 1], [1, 0], [1, 2], [2, 3], [3, 0], [0, 2]])
    ea = rng.normal(size=(e, 6)).astype(np.float32)
    nc = rng.normal(size=(n, 3, 10, 10)).astype(np.float32)
    ec = rng.normal(size=(e, 3, 16, 16)).astype(np.float32)
    w = visual.init_weights(42)
    a = visual.forward(x, ei, ea, nc, ec, w)
    b = visual.forward(x, ei, ea, nc, ec, w)
    assert a[0].shape == (n, 2) and a[1].shape == (e, 4)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    assert np.allclose(np.exp(a[1]).sum(axis=1), 1.0, atol=1e-4)


@pytest.mark.spark
@pytest.mark.slow
def test_pipeline_parity_visual(spark):
    from table_recognition_spark.fixtures.generate import (
        corpus_to_spark,
        make_corpus,
    )
    from table_recognition_spark.oracle.extract import extract_corpus
    from table_recognition_spark.pipeline.extract import extract_flat

    docs, media, _ = make_corpus(4, 2, seed=13)
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    # whichever G3 weights the repo ships (trained artifact when present,
    # else seeded init): the weights pick the model
    vw = visual.default_weights()
    got = spans_by_doc(extract_flat(docs_df, media_df, vw))
    exp = {
        k: span_tuples(v) for k, v in extract_corpus(docs, media, vw).items()
    }
    assert got == exp


def test_crop_regions_color_input():
    """G3 consumes (H, W, 3) color images: per-channel crops; equal
    channels reproduce the grayscale path exactly, distinct channels
    produce distinct crop channels."""
    import numpy as np

    from table_recognition_spark.core import visual

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 255, (60, 80)).astype(np.uint8)
    bboxes = np.array([[5, 5, 30, 20], [40, 25, 70, 50]])
    edges = np.array([[0, 1]])
    nc_g, ec_g = visual.crop_regions(gray, bboxes, edges)
    # equal-channel color == grayscale
    nc_c, ec_c = visual.crop_regions(
        np.stack([gray, gray, gray], axis=-1), bboxes, edges
    )
    assert (nc_g == nc_c).all() and (ec_g == ec_c).all()
    # distinct channels flow through independently
    color = np.stack([gray, 255 - gray, gray // 2], axis=-1)
    nc, ec = visual.crop_regions(color, bboxes, edges)
    assert nc.shape == nc_g.shape and ec.shape == ec_g.shape
    assert not (nc[:, 0] == nc[:, 1]).all()
    # and the full G3 forward accepts the color crops
    x = rng.standard_normal((2, 4)).astype(np.float32)
    ea = rng.standard_normal((1, 6)).astype(np.float32)
    out = visual.forward(
        x, np.array([[0, 1]]), ea, nc, ec, visual.init_weights(42)
    )
    assert out[0].shape[0] == 2


@pytest.mark.spark
def test_visual_path_ingests_color_jpeg_media(spark):
    """The reference's actual corpus container is color JPEG
    (graph.py:103,174 reads .jpg via cv2). Swap a fixture media image
    for a color JPEG (own encoder) and the visual pipeline must decode
    it by its JPEG magic to 3-channel crops — Spark and oracle
    span-equal, and the CNN features must differ from a grayscale
    render's of the same image (proving color actually reaches the
    CNN)."""
    import numpy as np

    from fixture_writers import jpeg_encode_rgb
    from table_recognition_spark.core.jpeg import jpeg_encode_gray8
    from table_recognition_spark.fixtures.generate import (
        corpus_to_spark,
        make_corpus,
        png_decode_gray8,
    )
    from table_recognition_spark.oracle.extract import extract_corpus
    from table_recognition_spark.pipeline.extract import extract_flat

    docs, media, _ = make_corpus(4, 2, seed=21)
    # colorize: per-channel tints of the rendered table page
    for m in media:
        gray = png_decode_gray8(m["image"]).astype(np.float64)
        rgb = np.stack(
            [gray, (gray * 0.85 + 20), (gray * 0.7 + 60)], axis=-1
        ).clip(0, 255).astype(np.uint8)
        m["image"] = jpeg_encode_rgb(rgb)
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    vw = visual.default_weights()
    got = spans_by_doc(extract_flat(docs_df, media_df, vw))
    exp = {
        k: span_tuples(v) for k, v in extract_corpus(docs, media, vw).items()
    }
    assert got == exp
    assert any(
        s[0] == "cell" for spans in got.values() for s in spans
    )
    from table_recognition_spark.core.bbox import polygons_to_bboxes
    from table_recognition_spark.core.jpeg import jpeg_decode_gray8
    from table_recognition_spark.operators.multimodal import (
        decode_image_visual,
    )

    img = decode_image_visual(media[0]["image"])
    assert img.ndim == 3 and img.shape[2] == 3
    # channels genuinely differ (tinted source)
    assert not np.array_equal(img[..., 0], img[..., 2])
    # a gray-JPEG render of the same page gives other CNN features: the
    # color planes reach the CNN (lossy-codec luma of the tinted image !=
    # the color planes)
    gray = decode_image_visual(
        jpeg_encode_gray8(jpeg_decode_gray8(media[0]["image"]))
    )
    bboxes = polygons_to_bboxes(
        [[(p["x"], p["y"]) for p in li["points"]]
         for li in media[0]["ocr_lines"]]
    )
    no_edges = np.empty((0, 2), dtype=np.int64)
    feats = [
        visual.cnn_features(
            visual.crop_regions(page, bboxes, no_edges)[0],
            np.empty((0, 3, visual.EDGE_CROP, visual.EDGE_CROP)), vw,
        )[0]
        for page in (img, gray)
    ]
    assert not np.array_equal(*feats)


def test_fused_cnn_bit_identical_to_per_image():
    """Cross-image CNN fusion (run_kernel_batch / forward_many's
    node_feats seam) must be BIT-identical to the per-image path:
    conv2d multiplies a 3-D (B, H'·W', C·k·k) stack, one fixed-shape GEMM
    per crop, and depthwise/pool/avg are elementwise per sample. Span parity between the fused
    Spark kernel and the per-image no-Spark oracle rests on this."""
    rng = np.random.default_rng(11)
    vw = visual.default_weights()
    e_sizes = [98, 55, 17, 210]
    n_sizes = [26, 11, 5, 60]
    e_crops = [
        rng.uniform(0, 255, (s, 3, 16, 16)).astype(np.float32)
        for s in e_sizes
    ]
    n_crops = [
        rng.uniform(0, 255, (s, 3, 10, 10)).astype(np.float32)
        for s in n_sizes
    ]
    for crops, prefix, spec in (
        (e_crops, "g3.edge_cnn", visual.EDGE_CNN),
        (n_crops, "g3.node_cnn", visual.NODE_CNN),
    ):
        fused = visual._cnn_forward(
            np.concatenate(crops), vw, prefix, spec
        )
        off = 0
        for c in crops:
            per = visual._cnn_forward(c, vw, prefix, spec)
            assert np.array_equal(fused[off : off + len(c)], per)
            off += len(c)


def test_run_kernel_arrays_many_matches_per_image():
    """The kernel over a batch of images returns exactly each image's
    cells when it runs alone, including empty-bbox rows, for G3 and G2
    weights alike."""
    from oracles import run_kernel_arrays_many

    from table_recognition_spark.core.bbox import polygons_to_bboxes
    from table_recognition_spark.fixtures.generate import _make_table_image

    vw = visual.default_weights()
    inputs = []
    for seed in (3, 5):
        rng = np.random.default_rng([42, seed])
        m, _ = _make_table_image(rng, f"fuse{seed}")
        lines = sorted(m["ocr_lines"], key=lambda d: d["line_id"])
        bboxes = polygons_to_bboxes(
            [[(p["x"], p["y"]) for p in li["points"]] for li in lines]
        )
        inputs.append(
            (bboxes, [li["text"] for li in lines], m["width"],
             m["height"], m["image"])
        )
    inputs.insert(1, (np.empty((0, 4), dtype=np.int64), [], 10, 10, b""))
    for w in (vw, gnn.default_weights()):
        batch = run_kernel_arrays_many(inputs, w, "knn")
        assert batch[1] == []
        for inp, cells in zip(inputs, batch):
            if len(inp[0]) == 0:
                continue
            assert cells == run_kernel_arrays_many([inp], w, "knn")[0]
            assert len(cells) > 0


def test_crop_regions_bitwise_equals_per_crop_reference():
    """Every crop of one size is cut and resized in one array pass,
    bit-identical to cutting and resizing each crop alone
    (tests/oracles.py) — gray and color pages, boxes inside, across and
    beyond the page edges (empty and slice-wrapped regions), zero-size
    boxes."""
    import oracles

    rng = np.random.default_rng(5)
    for trial in range(20):
        h, w = (int(v) for v in rng.integers(30, 90, size=2))
        page = rng.integers(0, 256, (h, w) if trial % 2 else (h, w, 3))
        page = page.astype(np.uint8)
        n = int(rng.integers(1, 12))
        x = rng.integers(-60, w + 40, n)
        y = rng.integers(-60, h + 40, n)
        b = np.stack(
            [x, y, x + rng.integers(0, 30, n), y + rng.integers(0, 20, n)],
            axis=1,
        )
        edges = np.argwhere(~np.eye(n, dtype=bool))[: int(rng.integers(0, 20))]
        got = visual.crop_regions(page, b, edges)
        exp = oracles.crop_regions_per_crop(page, b, edges)
        for g, e in zip(got, exp):
            assert g.shape == e.shape and g.dtype == e.dtype
            assert np.array_equal(g.view(np.uint32), e.view(np.uint32))


def test_default_weights_name_a_missing_artifact(tmp_path):
    """Imported from a ``--py-files`` zip (scripts/build_pyfiles.sh) the
    package has no ``weights/`` beside it: each default loader must raise
    an error naming its trained artifact, never fall back to other
    weights (for G3 that was the untrained init)."""
    import os
    import subprocess
    import sys
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = tmp_path / "trs.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(
            os.path.join(repo, "table_recognition_spark")
        ):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, repo))
    code = (
        "from table_recognition_spark.core import gnn, visual\n"
        "for mod in (visual, gnn):\n"
        "    try:\n"
        "        mod.default_weights()\n"
        "    except OSError as exc:\n"
        "        print(exc)\n"
        "    else:\n"
        "        print('loaded')\n"
    )
    env = dict(os.environ, PYTHONPATH=str(zpath))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert len(out) == 2, out
    assert "g3_trained_seed42.npz" in out[0], out
    assert "g2_trained_seed42.npz" in out[1], out
