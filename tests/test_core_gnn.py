import numpy as np

from table_recognition_spark.core import gnn


def _toy_graph():
    rng = np.random.default_rng(7)
    x = rng.normal(size=(5, 4)).astype(np.float32)
    e_idx = np.array([[0, 1], [1, 0], [1, 2], [3, 4]], dtype=np.int64)
    e = rng.normal(size=(4, 6)).astype(np.float32)
    return x, e_idx, e


def test_shapes_and_log_softmax():
    w = gnn.init_weights(42)
    x, ei, e = _toy_graph()
    nlp, elp = gnn.forward(x, ei, e, w)
    assert nlp.shape == (5, 2) and elp.shape == (4, 4)
    assert np.allclose(np.exp(nlp).sum(axis=1), 1.0, atol=1e-5)
    assert np.allclose(np.exp(elp).sum(axis=1), 1.0, atol=1e-5)


def test_deterministic():
    w = gnn.init_weights(42)
    x, ei, e = _toy_graph()
    a = gnn.forward(x, ei, e, w)
    b = gnn.forward(x, ei, e, w)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])


def test_scatter_mean_hand_computed():
    vals = np.array([[2.0, 4.0], [6.0, 8.0], [10.0, 0.0]], dtype=np.float32)
    idx = np.array([0, 0, 2])
    out = gnn._scatter_mean(vals, idx, 4)
    assert np.allclose(out[0], [4.0, 6.0])
    assert np.allclose(out[1], [0.0, 0.0])  # empty group → 0 (torch_scatter)
    assert np.allclose(out[2], [10.0, 0.0])
    assert np.allclose(out[3], [0.0, 0.0])


def test_empty_edge_graph():
    w = gnn.init_weights(42)
    x = np.zeros((3, 4), dtype=np.float32)
    ei = np.empty((0, 2), dtype=np.int64)
    e = np.empty((0, 6), dtype=np.float32)
    nlp, elp = gnn.forward(x, ei, e, w)
    assert nlp.shape == (3, 2) and elp.shape == (0, 4)
    ncls, ecls = gnn.decode(nlp, elp)
    assert ncls.shape == (3,) and ecls.shape == (0,)


def test_weights_roundtrip(tmp_path):
    w = gnn.init_weights(42)
    p = str(tmp_path / "w.npz")
    gnn.save_weights(w, p)
    w2 = gnn.load_weights(p)
    assert set(w) == set(w2)
    for k in w:
        assert np.array_equal(w[k], w2[k])


def test_seeded_init_stable():
    a = gnn.init_weights(42)
    b = gnn.init_weights(42)
    for k in a:
        assert np.array_equal(a[k], b[k])
