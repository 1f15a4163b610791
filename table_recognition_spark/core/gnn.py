"""G2 message-passing GNN ("NodeEdgeMLPEnding") as pure numpy.

Architecture mirrors /root/reference/table_recognition/models/
node_edge_mlp_ending.py:9-113 exactly:

- 4 MetaLayers. Layer 1: node 4→16, edge 6→16, hidden 32, no residual.
  Layers 2-4: 16→16 both, hidden 64, residual on both sub-models.
- EdgeSubModel (:68-84): e' = MLP([x[src] ‖ x[dst] ‖ e]) (+ e if residual)
- NodeSubModel (:87-113): m = MLP1([x[dst] ‖ e']); agg = scatter_mean(m, src);
  x' = MLP2([x ‖ agg]) (+ x if residual). Note the reference aggregates the
  *destination* node's message at the *source* index (row) — preserved.
- Heads (:29-41): node Linear(16,16)-ReLU-Dropout-Linear(16,2);
  edge Linear(16,16)-ReLU-Dropout-Linear(16,4). Dropout is eval-mode
  (identity) — inference is deterministic.
- log_softmax on both (:65); decode = argmax (train.py:202), class order
  {0: cell, 1: horizontal, 2: vertical, 3: no-relationship} and
  {0: header, 1: data} per output.py:10-26.

Weights: the reference ships no trained checkpoint and no inference entry
point (SURVEY.md §2.10.10). The seeded Xavier-uniform float32
initialization (:func:`init_weights`, frozen as weights/g2_seed42.npz) is
what ``core/train.py`` trains into the default artifact
(:func:`default_weights`), shared by the single-node oracle and the Spark
kernel. G3 (core/visual.py) runs the same MetaLayer body on its own
weights (:func:`_metalayers_heads`).
"""

from __future__ import annotations

import numpy as np

EDGE_CLASS_CELL = 0

# (in_node, in_edge, hidden, out_node, out_edge, residual) per MetaLayer,
# node_edge_mlp_ending.py:12-26
LAYER_SPECS = [
    (4, 6, 32, 16, 16, False),
    (16, 16, 64, 16, 16, True),
    (16, 16, 64, 16, 16, True),
    (16, 16, 64, 16, 16, True),
]


def _linear_shapes():
    """Ordered list of (name, fan_in, fan_out) for every Linear layer."""
    shapes = []
    for i, (n_in, e_in, hid, n_out, e_out, _res) in enumerate(LAYER_SPECS, 1):
        shapes.append((f"l{i}.edge.0", 2 * n_in + e_in, hid))
        shapes.append((f"l{i}.edge.1", hid, e_out))
        shapes.append((f"l{i}.node1.0", n_in + e_out, hid))
        shapes.append((f"l{i}.node1.1", hid, n_out))
        shapes.append((f"l{i}.node2.0", n_in + n_out, hid))
        shapes.append((f"l{i}.node2.1", hid, n_out))
    shapes.append(("head.node.0", 16, 16))
    shapes.append(("head.node.1", 16, 2))
    shapes.append(("head.edge.0", 16, 16))
    shapes.append(("head.edge.1", 16, 4))
    return shapes


def init_weights(seed: int = 42) -> dict:
    """Xavier-uniform float32 weights, zero biases (FIXTURES.md §4)."""
    rng = np.random.default_rng(seed)
    w = {}
    for name, fan_in, fan_out in _linear_shapes():
        limit = float(np.sqrt(6.0 / (fan_in + fan_out)))
        w[name + ".w"] = rng.uniform(
            -limit, limit, size=(fan_in, fan_out)
        ).astype(np.float32)
        w[name + ".b"] = np.zeros(fan_out, dtype=np.float32)
    return w


def save_weights(weights: dict, path: str) -> None:
    np.savez(path, **weights)


def load_weights(path: str) -> dict:
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


_DEFAULT_WEIGHTS: dict = {}


def _committed_weights(name: str) -> dict:
    """The committed artifact ``weights/<name>`` next to the package,
    loaded once per process; callers treat the dict as immutable. A
    missing artifact (e.g. the package imported from a ``--py-files``
    zip: pass ``main.py --weights`` there) raises an error naming it."""
    if name not in _DEFAULT_WEIGHTS:
        import os

        here = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        _DEFAULT_WEIGHTS[name] = load_weights(
            os.path.join(here, "weights", name)
        )
    return _DEFAULT_WEIGHTS[name]


def default_weights() -> dict:
    """G2 weights shared by the flagship, the spark-submit job
    (``main.py``) and ``--infer``: the trained artifact
    ``weights/g2_trained_seed42.npz`` (96.2% held-out edge accuracy on
    synthetic grids, ``weights/g2_trained_seed42.history.json``)."""
    return _committed_weights("g2_trained_seed42.npz")


def _matmul_blocks(x, w, off):
    """``x @ w``, one GEMM per row block ``off[i]:off[i + 1]``: a block's
    rows are bit-identical to the product of that block alone, which one
    GEMM over rows stacked from several images is not (with OpenBLAS an
    odd row count changes the last row's low bits)."""
    out = np.empty((len(x), w.shape[1]), dtype=np.result_type(x, w))
    for s, e in zip(off[:-1].tolist(), off[1:].tolist()):
        if e > s:
            np.matmul(x[s:e], w, out=out[s:e])
    return out


def _mlp2(w, prefix, x, off):
    """Linear → ReLU → Linear (every MLP in the model has this shape),
    its GEMMs per row block ``off``."""
    h = _matmul_blocks(x, w[prefix + ".0.w"], off)
    h += w[prefix + ".0.b"]
    np.maximum(h, 0.0, out=h)
    out = _matmul_blocks(h, w[prefix + ".1.w"], off)
    out += w[prefix + ".1.b"]
    return out


def _scatter_mean(values, index, n):
    """Mean of ``values`` rows grouped by ``index``; zero for empty groups
    (torch_scatter.scatter_mean semantics with dim_size=n)."""
    sums = np.zeros((n, values.shape[1]), dtype=values.dtype)
    np.add.at(sums, index, values)
    counts = np.bincount(index, minlength=n).astype(values.dtype)
    counts = np.maximum(counts, 1.0)
    return sums / counts[:, None]


def _log_softmax(z):
    m = z.max(axis=1, keepdims=True)
    e = np.exp(z - m)
    return (z - m) - np.log(e.sum(axis=1, keepdims=True))


def _edge_ends(edge_index):
    if edge_index.size:
        return edge_index[:, 0], edge_index[:, 1]
    return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)


def forward(
    x: np.ndarray, edge_index: np.ndarray, edge_attr: np.ndarray, weights: dict
):
    """Full forward pass.

    x: (N, 4) float32; edge_index: (E, 2) int; edge_attr: (E, 6) float32.
    Returns (node_log_probs (N,2), edge_log_probs (E,4)).
    """
    return forward_many(
        x, edge_index, edge_attr, weights,
        np.array([0, len(x)]), np.array([0, len(edge_attr)]),
    )


def forward_many(x, edge_index, edge_attr, weights, node_off, edge_off):
    """:func:`forward` of many images in one pass, bit-identical to each
    image's own: image ``i`` owns node rows ``node_off[i]:node_off[i+1]``
    and edge rows ``edge_off[i]:edge_off[i+1]``, and ``edge_index`` holds
    batch node rows. Gathers, concatenations, bias adds, residuals,
    ``scatter_mean`` (each node's messages added in the same order) and
    ``log_softmax`` are row-wise, so they run batch-wide; only the GEMMs
    run per image (:func:`_matmul_blocks`)."""
    return _metalayers_heads(
        np.asarray(x, dtype=np.float32), edge_index,
        np.asarray(edge_attr, dtype=np.float32), weights, node_off,
        edge_off, "", LAYER_SPECS,
    )


def _metalayers_heads(x, edge_index, e, weights, node_off, edge_off,
                      prefix, specs):
    """The MetaLayer stack ``specs`` and both heads, from float32 node
    and edge features, with the weights named ``prefix + "l1.edge.0.w"``
    and so on: G2 (``""``, :data:`LAYER_SPECS`) and G3 (``"g3."``,
    ``visual.VISUAL_LAYER_SPECS``, after its joins) share this body.
    Returns (node_log_probs, edge_log_probs)."""
    row, col = _edge_ends(edge_index)
    n = len(x)

    for i, (*_dims, residual) in enumerate(specs, 1):
        # edge model first (PyG MetaLayer order)
        e_new = _mlp2(
            weights, f"{prefix}l{i}.edge",
            np.concatenate([x[row], x[col], e], axis=1), edge_off,
        )
        if residual:
            e_new += e
        e = e_new
        # node model
        m = _mlp2(
            weights, f"{prefix}l{i}.node1",
            np.concatenate([x[col], e], axis=1), edge_off,
        )
        agg = _scatter_mean(m, row, n)
        x_new = _mlp2(
            weights, f"{prefix}l{i}.node2", np.concatenate([x, agg], axis=1),
            node_off,
        )
        if residual:
            x_new += x
        x = x_new

    node_logits = _mlp2(weights, prefix + "head.node", x, node_off)
    edge_logits = _mlp2(weights, prefix + "head.edge", e, edge_off)
    return _log_softmax(node_logits), _log_softmax(edge_logits)


def decode(node_log_probs: np.ndarray, edge_log_probs: np.ndarray):
    """argmax decode (train.py:104-107,202)."""
    node_cls = (
        node_log_probs.argmax(axis=1)
        if len(node_log_probs)
        else np.empty(0, dtype=np.int64)
    )
    edge_cls = (
        edge_log_probs.argmax(axis=1)
        if len(edge_log_probs)
        else np.empty(0, dtype=np.int64)
    )
    return node_cls, edge_cls
