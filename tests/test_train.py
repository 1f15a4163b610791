import numpy as np
import pytest

from table_recognition_spark.core import gnn, train


def _toy():
    rng = np.random.default_rng(0)
    x = rng.normal(size=(6, 4))
    ei = np.array(
        [[0, 1], [1, 0], [1, 2], [2, 3], [3, 4], [4, 5], [5, 0]],
        dtype=np.int64,
    )
    ea = rng.normal(size=(7, 6))
    y = np.array([0, 1, 2, 3, 0, 1, 2])
    return x, ei, ea, y


def test_forward_cached_matches_forward():
    x, ei, ea, _ = _toy()
    w = gnn.init_weights(3)
    logits, _ = train.forward_cached(
        x.astype(np.float32), ei, ea.astype(np.float32), w
    )
    _, elp = gnn.forward(x.astype(np.float32), ei, ea.astype(np.float32), w)
    # forward_cached returns raw logits; gnn.forward log_softmaxes them —
    # argmax must agree and log_softmax(logits) must equal elp
    ls = logits - logits.max(axis=1, keepdims=True)
    ls = ls - np.log(np.exp(ls).sum(axis=1, keepdims=True))
    assert np.allclose(ls, elp, atol=1e-5)


def test_gradient_check_float64():
    """Hand-rolled backprop vs central differences, all weight groups."""
    x, ei, ea, y = _toy()
    w = {k: v.astype(np.float64) for k, v in gnn.init_weights(7).items()}
    logits, state = train.forward_cached(x, ei, ea, w)
    _, dlg = train.nll_grad(logits, y)
    g = train.backward(dlg, w, state)

    rng = np.random.default_rng(1)
    eps = 1e-6

    def loss_at():
        return train.nll_grad(train.forward_cached(x, ei, ea, w)[0], y)[0]

    worst = 0.0
    for key in sorted(w):
        arr = w[key]
        for _ in range(2):
            idx = tuple(rng.integers(0, s) for s in arr.shape)
            orig = arr[idx]
            arr[idx] = orig + eps
            lp = loss_at()
            arr[idx] = orig - eps
            lm = loss_at()
            arr[idx] = orig
            num = (lp - lm) / (2 * eps)
            rel = abs(num - g[key][idx]) / max(abs(num), abs(g[key][idx]), 1e-8)
            worst = max(worst, rel)
    assert worst < 1e-5, worst


@pytest.mark.slow
def test_training_improves_edge_accuracy():
    w, hist = train.train(
        gnn.init_weights(5), n_train_imgs=60, n_valid_imgs=20, epochs=8,
        lr=1e-3, seed=5,
    )
    first, best = hist[0]["valid_edge_acc"], max(
        h["valid_edge_acc"] for h in hist
    )
    assert best > first + 0.02, (first, best)
    assert hist[-1]["loss"] < hist[0]["loss"]


def test_trained_artifact_loads_and_beats_chance():
    """The committed trained weights classify held-out edges far above the
    25% 4-class chance level."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "weights",
        "g2_trained_seed42.npz",
    )
    if not os.path.exists(path):
        pytest.skip("trained artifact not committed yet")
    w = gnn.load_weights(path)
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, gt = make_corpus(0, 30, seed=777)  # unseen seed
    hit = tot = 0
    for m, g in zip(media, gt):
        t = train.graph_from_media(m, g)
        if t is None:
            continue
        x, e, ea, y = t
        _, elp = gnn.forward(x, e, ea, w)
        hit += int((elp.argmax(axis=1) == y).sum())
        tot += len(y)
    assert tot > 0
    assert hit / tot > 0.6, hit / tot
