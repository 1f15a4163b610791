"""Offline training for the table-recognition kernel — pure numpy backprop.

The reference trains with torch/PyG in one loop (train.py:36-173), and
its configured ``model_name`` picks the network it trains; torch is not
in this environment, and training is a one-off offline step anyway
(SURVEY.md §2.8 G5: the deployed pipeline ships fixed weights). Here, as
in inference, the weights pick the model (:func:`visual.is_visual`):
``train(gnn.init_weights(seed))`` trains G2 and
``train(visual.init_weights(seed))`` trains G3, on seeded synthetic grid
tables with ground-truth edge labels derived by the reference's own
labeling rules (core/labels.py). This module hand-rolls the exact
backward pass of the MetaLayer stack and edge head both models share
(:func:`gnn._metalayers_heads`); core/visual_train.py adds G3's crop
CNNs and join linears around it.

Faithful to the reference where it matters:
- loss = NLL on **edges only** — the node loss is commented out in the
  reference (train.py:158); the node head therefore keeps its seeded
  initialization, exactly like the reference's checkpoint would.
- Adam, lr 3e-4 (config.ini:35).
- best-valid-accuracy checkpointing (train.py:144-147).
Deliberately NOT reproduced: dropout in the heads (the identity at eval;
a training-only regularizer) and the gradient-accumulation
step-without-backward quirk (train.py:161-166, SURVEY.md §2.8 G5) —
training-only artifacts with no bearing on inference semantics.
"""

from __future__ import annotations

import numpy as np

from . import gnn, knn, labels, visual
from .bbox import polygons_to_bboxes
from .geometry import edge_features, node_features


# ---------------------------------------------------------------- autodiff
def _mlp2_fwd(w, prefix, x):
    h = x @ w[prefix + ".0.w"] + w[prefix + ".0.b"]
    r = np.maximum(h, 0.0)
    out = r @ w[prefix + ".1.w"] + w[prefix + ".1.b"]
    return out, (x, h, r)


def _mlp2_bwd(w, g, prefix, dout, cache):
    x, h, r = cache
    g[prefix + ".1.w"] += r.T @ dout
    g[prefix + ".1.b"] += dout.sum(axis=0)
    dr = dout @ w[prefix + ".1.w"].T
    dh = dr * (h > 0)
    g[prefix + ".0.w"] += x.T @ dh
    g[prefix + ".0.b"] += dh.sum(axis=0)
    return dh @ w[prefix + ".0.w"].T


def _stack_fwd(x, edge_index, e, w, prefix, specs):
    """The MetaLayer stack ``specs`` and the edge head, with the weights
    named ``prefix + "l1.edge.0.w"`` and so on, every intermediate cached
    for :func:`_stack_bwd`. Returns (raw edge logits, state)."""
    row, col = gnn._edge_ends(edge_index)
    n = len(x)
    caches = []
    for i, (*_dims, residual) in enumerate(specs, 1):
        e_in = np.concatenate([x[row], x[col], e], axis=1)
        e_new, ce = _mlp2_fwd(w, f"{prefix}l{i}.edge", e_in)
        if residual:
            e_new = e_new + e
        m_in = np.concatenate([x[col], e_new], axis=1)
        m, cm = _mlp2_fwd(w, f"{prefix}l{i}.node1", m_in)
        counts = np.bincount(row, minlength=n).astype(m.dtype)
        denom = np.maximum(counts, 1.0)
        agg = np.zeros((n, m.shape[1]), dtype=m.dtype)
        np.add.at(agg, row, m)
        agg = agg / denom[:, None]
        n_in = np.concatenate([x, agg], axis=1)
        x_new, cn = _mlp2_fwd(w, f"{prefix}l{i}.node2", n_in)
        if residual:
            x_new = x_new + x
        caches.append((x.shape[1], ce, cm, cn, denom))
        x, e = x_new, e_new
    edge_logits, ch = _mlp2_fwd(w, prefix + "head.edge", e)
    return edge_logits, (caches, row, col, n, ch)


def _stack_bwd(dlogits, w, state, prefix, specs):
    """Backward of :func:`_stack_fwd`: returns (g, dx, de) — the
    gradients of every key of ``w`` (zero outside the stack and the edge
    head) and of the stack's input node and edge features."""
    caches, row, col, n, ch = state
    g = {k: np.zeros_like(v) for k, v in w.items()}
    de = _mlp2_bwd(w, g, prefix + "head.edge", dlogits, ch)
    # the final node features feed nothing under edge-only loss
    dt = de.dtype
    dx_out = np.zeros((n, specs[-1][3]), dtype=dt)
    for i in range(len(specs), 0, -1):
        d, ce, cm, cn, denom = caches[i - 1]
        residual = specs[i - 1][-1]
        # --- node submodel backward (x_new = mlp2([x, agg]) (+x)) ---
        dn_in = _mlp2_bwd(w, g, f"{prefix}l{i}.node2", dx_out, cn)
        dx_cur = dn_in[:, :d].astype(dt)
        dagg = dn_in[:, d:]
        if residual:
            dx_cur = dx_cur + dx_out
        dm = (dagg / denom[:, None])[row]
        dm_in = _mlp2_bwd(w, g, f"{prefix}l{i}.node1", dm.astype(dt), cm)
        # m_in = [x[col], e_new]
        np.add.at(dx_cur, col, dm_in[:, :d])
        de_total = de + dm_in[:, d:]
        # --- edge submodel backward (e_new = mlp_e([x[row],x[col],e]) (+e)) ---
        de_in = _mlp2_bwd(
            w, g, f"{prefix}l{i}.edge", de_total.astype(dt), ce
        )
        np.add.at(dx_cur, row, de_in[:, :d])
        np.add.at(dx_cur, col, de_in[:, d : 2 * d])
        de_prev = de_in[:, 2 * d :]
        if residual:
            de_prev = de_prev + de_total
        dx_out = dx_cur
        de = de_prev.astype(dt)
    return g, dx_out, de


def forward_cached(x, edge_index, edge_attr, w):
    """gnn.forward with every intermediate cached for :func:`backward`;
    returns raw edge logits (pre-log-softmax) and the state."""
    return _stack_fwd(x, edge_index, edge_attr, w, "", gnn.LAYER_SPECS)


def backward(dlogits, w, state):
    """Gradients of edge-NLL wrt every G2 weight (edge head + MetaLayers)."""
    return _stack_bwd(dlogits, w, state, "", gnn.LAYER_SPECS)[0]


def nll_grad(edge_logits, y):
    """Mean NLL over edges; returns (loss, dlogits)."""
    m = edge_logits.max(axis=1, keepdims=True)
    ez = np.exp(edge_logits - m)
    p = ez / ez.sum(axis=1, keepdims=True)
    n = len(y)
    loss = -np.log(np.maximum(p[np.arange(n), y], 1e-12)).mean()
    d = p.copy()
    d[np.arange(n), y] -= 1.0
    return loss, (d / n).astype(np.float32)


class Adam:
    def __init__(self, weights, lr=3e-4, b1=0.9, b2=0.999, eps=1e-8):
        self.lr, self.b1, self.b2, self.eps = lr, b1, b2, eps
        self.m = {k: np.zeros_like(v) for k, v in weights.items()}
        self.v = {k: np.zeros_like(v) for k, v in weights.items()}
        self.t = 0

    def step(self, w, g):
        self.t += 1
        for k in w:
            if not np.any(g[k]):
                continue
            self.m[k] = self.b1 * self.m[k] + (1 - self.b1) * g[k]
            self.v[k] = self.b2 * self.v[k] + (1 - self.b2) * g[k] ** 2
            mh = self.m[k] / (1 - self.b1**self.t)
            vh = self.v[k] / (1 - self.b2**self.t)
            w[k] = (w[k] - self.lr * mh / (np.sqrt(vh) + self.eps)).astype(
                np.float32
            )


# ---------------------------------------------------------------- data
def graph_from_media(m, g, strategy: str = "knn", crops: bool = False):
    """fixture media+gt row → (x, edge_index, edge_attr, edge_labels);
    with ``crops`` (G3 training) → (x, edge_index, edge_attr, node_crops,
    edge_crops, edge_labels), the crops cut by the same
    ``visual.crop_regions`` the inference kernel uses."""
    from .visibility import visibility_edges

    lines = sorted(m["ocr_lines"], key=lambda d: d["line_id"])
    if not lines:
        return None
    polys = [[(p["x"], p["y"]) for p in ln["points"]] for ln in lines]
    nb = polygons_to_bboxes(polys)
    edges = (
        knn.knn_edges(nb)
        if strategy == "knn"
        else visibility_edges(nb, m["width"], m["height"])
    )
    if len(edges) == 0:
        return None
    x = node_features(nb, m["width"], m["height"])
    ea = edge_features(edges, nb, m["width"], m["height"])
    cells = g["cells"]
    if not cells:
        return None
    cb = polygons_to_bboxes(
        [[(p["x"], p["y"]) for p in c["points"]] for c in cells]
    )
    grid = np.array(
        [[c["start_row"], c["end_row"], c["start_col"], c["end_col"]]
         for c in cells]
    )
    _, ey = labels.label_graph(nb, edges, cb, [c["type"] for c in cells], grid)
    if not crops:
        return x, edges, ea, ey
    from ..fixtures.generate import png_decode_gray8

    nc, ec = visual.crop_regions(png_decode_gray8(m["image"]), nb, edges)
    return x, edges, ea, nc, ec, ey


def train(
    weights: dict,
    n_train_imgs: int = 400,
    n_valid_imgs: int = 80,
    epochs: int = 30,
    batch_graphs: int = 8,
    lr: float = 3e-4,
    seed: int = 42,
    strategy: str = "knn",
    verbose: bool = False,
):
    """Train from the initial ``weights`` on seeded synthetic grids;
    returns (best_weights, history). The weights pick the model:
    ``gnn.init_weights(seed)`` trains G2, ``visual.init_weights(seed)``
    G3. Each G3 step backprops two crop CNNs, so its artifact was
    trained on a smaller budget (the ``config`` of
    ``weights/g3_trained_seed42.history.json``). ``weights`` itself is
    not modified."""
    from ..fixtures.generate import make_corpus

    crops = visual.is_visual(weights)
    if crops:
        from .visual_train import backward as bwd, forward_cached as fwd

        infer = visual.forward
    else:
        fwd, bwd, infer = forward_cached, backward, gnn.forward

    def graphs(media, gt):
        return [
            t
            for t in (
                graph_from_media(m, g, strategy, crops)
                for m, g in zip(media, gt)
            )
            if t is not None
        ]

    _, media_t, gt_t = make_corpus(0, n_train_imgs, seed=seed)
    _, media_v, gt_v = make_corpus(0, n_valid_imgs, seed=seed + 1)
    train_g = graphs(media_t, gt_t)
    valid_g = graphs(media_v, gt_v)

    w = dict(weights)
    opt = Adam(w, lr=lr)
    rng = np.random.default_rng(seed)
    best_acc, best_w, history = -1.0, dict(w), []

    def valid_acc(weights):
        hit = tot = 0
        for *inputs, y in valid_g:
            _, elp = infer(*inputs, weights)
            hit += int((elp.argmax(axis=1) == y).sum())
            tot += len(y)
        return hit / max(tot, 1)

    for epoch in range(epochs):
        order = rng.permutation(len(train_g))
        losses = []
        for start in range(0, len(order), batch_graphs):
            g_acc = None
            for j in order[start : start + batch_graphs]:
                *inputs, y = train_g[j]
                logits, state = fwd(*inputs, w)
                loss, dlg = nll_grad(logits, y)
                grads = bwd(dlg, w, state)
                losses.append(loss)
                if g_acc is None:
                    g_acc = grads
                else:
                    for k in g_acc:
                        g_acc[k] += grads[k]
            opt.step(w, g_acc)
        acc = valid_acc(w)
        history.append({"epoch": epoch, "loss": float(np.mean(losses)),
                        "valid_edge_acc": acc})
        if verbose:
            print(history[-1], flush=True)
        if acc > best_acc:
            best_acc, best_w = acc, {k: v.copy() for k, v in w.items()}
    return best_w, history
