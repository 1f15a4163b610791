import numpy as np
import pytest

from oracles import (
    render_label_image,
    span_tuples,
    spans_by_doc,
    visibility_edges_full_march,
)
from table_recognition_spark.core.visibility import visibility_edges


def test_label_image_overwrite_order():
    b = np.array([[0, 0, 10, 10], [5, 5, 15, 15]])
    img = render_label_image(b, 20, 20)
    assert img[2, 2] == 1
    assert img[7, 7] == 2  # later id overwrites overlap
    assert img[12, 12] == 2
    assert img[18, 18] == 0


def test_vertical_pair_connected():
    # two boxes stacked vertically — the 0°/180° vertical rays must link them
    b = np.array([[10, 10, 30, 20], [10, 40, 30, 50]])
    e = visibility_edges(b, 60, 70)
    pairs = set(map(tuple, e.tolist()))
    assert (0, 1) in pairs and (1, 0) in pairs


def test_horizontal_pair_connected():
    b = np.array([[10, 10, 30, 20], [50, 10, 70, 20]])
    e = visibility_edges(b, 90, 40)
    pairs = set(map(tuple, e.tolist()))
    assert (0, 1) in pairs and (1, 0) in pairs


def test_occluder_blocks_far_neighbor():
    # three in a row: 0 | 1 | 2 — node 0 must see 1, not 2 (first hit wins)
    b = np.array([[10, 10, 20, 20], [30, 10, 40, 20], [50, 10, 60, 20]])
    e = visibility_edges(b, 80, 40)
    pairs = set(map(tuple, e.tolist()))
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_single_node_no_edges():
    b = np.array([[5, 5, 10, 10]])
    assert visibility_edges(b, 20, 20).shape == (0, 2)


def test_deterministic_and_sorted():
    rng = np.random.default_rng(4)
    xs = rng.integers(0, 300, size=(20, 1))
    ys = rng.integers(0, 200, size=(20, 1))
    b = np.concatenate([xs, ys, xs + 30, ys + 12], axis=1)
    e1 = visibility_edges(b, 400, 300)
    e2 = visibility_edges(b, 400, 300)
    assert np.array_equal(e1, e2)
    lst = list(map(tuple, e1.tolist()))
    assert lst == sorted(set(lst))


@pytest.mark.spark
def test_pipeline_parity_visibility(spark, tiny_corpus, weights):
    from table_recognition_spark.fixtures.generate import corpus_to_spark
    from table_recognition_spark.oracle.extract import extract_corpus
    from table_recognition_spark.pipeline.extract import extract_flat

    docs, media, _ = tiny_corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    got = spans_by_doc(
        extract_flat(docs_df, media_df, weights, strategy="visibility")
    )
    exp = {
        k: span_tuples(v)
        for k, v in extract_corpus(docs, media, weights, strategy="visibility").items()
    }
    assert got == exp


def test_optimized_equals_full_march():
    """The chunked early-exit kernel must be result-identical to the
    direct full-march transcription of the frozen spec, across random
    fixture images and adversarial small cases."""
    import numpy as np

    from table_recognition_spark.fixtures.generate import _make_table_image

    for i in range(12):
        rng = np.random.default_rng([321, i])
        m, _ = _make_table_image(rng, f"eq{i}")
        b = np.array(
            [
                [
                    min(p["x"] for p in l["points"]),
                    min(p["y"] for p in l["points"]),
                    max(p["x"] for p in l["points"]),
                    max(p["y"] for p in l["points"]),
                ]
                for l in m["ocr_lines"]
            ],
            dtype=np.int64,
        )
        got = visibility_edges(b, m["width"], m["height"])
        exp = visibility_edges_full_march(b, m["width"], m["height"])
        assert np.array_equal(got, exp), f"mismatch on fixture {i}"

    # adversarial: overlapping boxes, box at border, wide+thin mix,
    # degenerate (zero-area) box, node whose center is overwritten
    rng = np.random.default_rng(99)
    for trial in range(30):
        n = int(rng.integers(2, 12))
        w, h = int(rng.integers(30, 200)), int(rng.integers(30, 200))
        b = np.zeros((n, 4), dtype=np.int64)
        for j in range(n):
            x0 = int(rng.integers(0, w - 2))
            y0 = int(rng.integers(0, h - 2))
            x1 = x0 + int(rng.integers(0, w - x0))
            y1 = y0 + int(rng.integers(0, h - y0))
            b[j] = (x0, y0, x1, y1)
        got = visibility_edges(b, w, h)
        exp = visibility_edges_full_march(b, w, h)
        assert np.array_equal(got, exp), f"mismatch on random trial {trial}"
