"""Property-based tests (hypothesis) over the no-Spark core/oracle —
SURVEY.md §5.4 invariants on randomized seeded inputs."""

import numpy as np
from hypothesis import given, settings, strategies as st

from table_recognition_spark.core import gnn, knn
from table_recognition_spark.core.bbox import rect_iou, rect_min_distance
from table_recognition_spark.core.boilerplate import strip_boilerplate
from table_recognition_spark.fixtures.generate import make_corpus
from table_recognition_spark.oracle.extract import extract_corpus, run_kernel

_W = gnn.init_weights(42)


@st.composite
def bbox_arrays(draw, max_n=25):
    n = draw(st.integers(1, max_n))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    x = rng.integers(0, 400, size=(n, 1))
    y = rng.integers(0, 300, size=(n, 1))
    w = rng.integers(1, 80, size=(n, 1))
    h = rng.integers(1, 40, size=(n, 1))
    return np.concatenate([x, y, x + w, y + h], axis=1)


@given(bbox_arrays())
@settings(max_examples=40, deadline=None)
def test_knn_edges_invariants(b):
    e = knn.knn_edges(b)
    if len(b) == 1:
        assert len(e) == 0
        return
    assert (e[:, 0] != e[:, 1]).all()
    pairs = set(map(tuple, e.tolist()))
    assert all((d, s) in pairs for s, d in pairs)  # symmetric
    lst = list(map(tuple, e.tolist()))
    assert lst == sorted(set(lst))  # canonical order, unique
    assert set(e[:, 0].tolist()) == set(range(len(b)))  # every node connected


@given(bbox_arrays(max_n=12), bbox_arrays(max_n=12))
@settings(max_examples=25, deadline=None)
def test_rect_metrics_bounds(a, b):
    iou = rect_iou(a, b)
    assert (iou >= 0).all() and (iou <= 1 + 1e-12).all()
    d = rect_min_distance(a, b)
    assert (d >= 0).all()
    assert np.allclose(d, rect_min_distance(b, a).T)


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300))
@settings(max_examples=80, deadline=None)
def test_boilerplate_strip_idempotent(s):
    once = strip_boilerplate(s)
    assert strip_boilerplate(once) == once
    assert once == once.strip()


@given(st.integers(0, 2**31 - 1), st.integers(2, 12), st.integers(1, 6))
@settings(max_examples=12, deadline=None)
def test_oracle_output_invariants(seed, n_docs, n_media):
    docs, media, _ = make_corpus(n_docs, n_media, seed=seed)
    out = extract_corpus(docs, media, _W)
    assert set(out) == {d["doc_id"] for d in docs}
    docs_by_id = {d["doc_id"]: d for d in docs}
    for did, spans in out.items():
        offs = [s["offset"] for s in spans]
        assert offs == list(range(len(spans)))  # dense, increasing
        n_text_in = sum(
            1 for s in docs_by_id[did]["spans"] if s["kind"] == "text"
        )
        n_text_out = sum(1 for s in spans if s["kind"] == "main_text")
        assert n_text_in == n_text_out  # text spans preserved 1:1
        for s in spans:
            assert s["kind"] in ("main_text", "cell")
            assert (s["kind"] == "cell") == bool(s["media_ref"])


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=15, deadline=None)
def test_cells_partition_ocr_lines(seed):
    """Every OCR line lands in exactly one assembled cell."""
    _, media, _ = make_corpus(0, 3, seed=seed)
    for m in media:
        cells = run_kernel(m["ocr_lines"], m["width"], m["height"], _W)
        n_lines_out = sum(len(c.split("\n")) for c in cells)
        assert n_lines_out == len(m["ocr_lines"])


@st.composite
def degenerate_batches(draw):
    """A batch of images with degenerate geometry — grid-snapped boxes
    (exact distance ties, touching edges, zero-width boxes), duplicate
    and nested boxes, stacks whose overlap a third box occludes partly
    or fully, 0–3-line images — in a shuffled image order, cut into
    random record batches."""
    rng = np.random.default_rng(draw(st.integers(0, 2**31 - 1)))
    images = []
    for _ in range(int(rng.integers(1, 8))):
        n = int(rng.choice([0, 1, 2, 3, int(rng.integers(4, 30))]))
        x = rng.integers(0, 20, n) * 5
        y = rng.integers(0, 20, n) * 5
        b = np.stack(
            [x, y, x + rng.integers(0, 12, n) * 5,
             y + rng.integers(0, 6, n) * 5], axis=1,
        ).reshape(-1, 4)
        if n >= 2:  # a duplicate box
            b[rng.integers(n)] = b[rng.integers(n)]
        if n >= 3:  # a box nested in another
            i, j = rng.integers(n, size=2)
            b[j] = b[i] + [5, 5, -5, -5]
            b[j, 2:] = np.maximum(b[j, :2], b[j, 2:])
        if rng.random() < 0.5:  # two lines and an occluder between them
            x0, y0 = rng.integers(0, 20, size=2) * 5
            w = int(rng.integers(1, 10)) * 5
            a, c = sorted(rng.integers(0, w + 10, size=2) - 5)
            b = np.concatenate([b, [
                [x0, y0, x0 + w, y0 + 10],
                [x0, y0 + 40, x0 + w, y0 + 50],
                [x0 + a, y0 + 20, x0 + c, y0 + 30],
            ]])
        texts = [f"t{len(images)}.{i}" for i in range(len(b))]
        images.append((b.astype(np.int64), texts, int(rng.integers(200, 400)),
                       int(rng.integers(200, 400))))
    order = rng.permutation(len(images))
    cuts = np.sort(rng.choice(np.arange(1, len(images) + 1),
                              int(rng.integers(0, len(images))),
                              replace=False))
    return [[images[i] for i in part] for part in np.split(order, cuts)
            if len(part)]


def _bits(a):
    return np.ascontiguousarray(a).view(np.uint8)


@given(degenerate_batches(), st.integers(0, 2**31 - 1))
@settings(max_examples=60, deadline=None)
def test_batch_kernel_bitwise_equals_per_image_reference(batches, cls_seed):
    """Every many-image pass equals the per-image reference
    (tests/oracles.py): edges and cells equal, features and log-probs
    bitwise — whatever the batch split and image order."""
    import oracles
    from table_recognition_spark.core import assemble, geometry

    w = gnn.default_weights()
    rng = np.random.default_rng(cls_seed)
    for batch in batches:
        sizes = [len(b) for b, *_ in batch]
        off = np.cumsum([0] + sizes)
        bb = np.concatenate([b for b, *_ in batch])
        ws = [im[2] for im in batch]
        hs = [im[3] for im in batch]
        edges = knn.knn_edges_many(bb, off)
        e_off = np.searchsorted(edges[:, 0], off)
        x = geometry.node_features(bb, np.repeat(ws, sizes),
                                   np.repeat(hs, sizes))
        ef = geometry.edge_features_many(edges, bb, ws, hs, off)
        node_lp, edge_lp = gnn.forward_many(x, edges, ef, w, off, e_off)
        # every ordered pair of an image: occlusion of far-apart lines
        pairs = [np.argwhere(~np.eye(n, dtype=bool)) + s
                 for s, n in zip(off, sizes)]
        all_pairs = np.concatenate([np.empty((0, 2), np.int64)] + pairs)
        pf = geometry.edge_features_many(all_pairs, bb, ws, hs, off)
        cls = rng.integers(0, 4, len(edges))
        cell_img, cells = assemble.assemble_cells_many(
            edges, cls, bb, [t for _, ts, *_ in batch for t in ts], off
        )
        kernel_cells = oracles.run_kernel_arrays_many(
            [im + (None,) for im in batch], w
        )
        p_off = np.cumsum([0] + [n * (n - 1) for n in sizes])
        for i, (b, texts, W, H) in enumerate(batch):
            s, t, es, et = off[i], off[i + 1], e_off[i], e_off[i + 1]
            ref_edges = oracles.knn_edges_per_image(b)
            assert np.array_equal(edges[es:et] - s, ref_edges.reshape(-1, 2))
            ref_x = geometry.node_features(b, W, H)
            assert np.array_equal(_bits(x[s:t]), _bits(ref_x))
            ref_e = oracles.edge_features_per_image(ref_edges, b, W, H)
            assert np.array_equal(_bits(ef[es:et]), _bits(ref_e))
            ref_pf = oracles.edge_features_per_image(pairs[i] - s, b, W, H)
            assert np.array_equal(_bits(pf[p_off[i]:p_off[i + 1]]),
                                  _bits(ref_pf))
            if not len(b):
                assert kernel_cells[i] == []
                continue
            ref_n, ref_l = oracles.gnn_forward_per_image(
                ref_x, ref_edges, ref_e, w
            )
            assert np.array_equal(_bits(node_lp[s:t]), _bits(ref_n))
            assert np.array_equal(_bits(edge_lp[es:et]), _bits(ref_l))
            got = [c for c, g in zip(cells, cell_img) if g == i]
            assert got == oracles.assemble_cells_per_image(
                ref_edges, cls[es:et], b, texts
            )
            assert kernel_cells[i] == oracles.assemble_cells_per_image(
                ref_edges, gnn.decode(ref_n, ref_l)[1], b, texts
            )
