"""G3 visual model ("VisualNodeEdgeMLPEnding") as pure numpy.

Architecture mirrors /root/reference/table_recognition/models/
node_edge_mlp_ending_visual.py:12-119 (the reference's configured default
model, config.ini:44) with the image path of graph.py:172-212:

- node crops: bbox ± 20 px (clamped), resized to 10×10 (graph.py:177-189)
- edge crops: union bbox of both endpoints ± 20 px, resized to 16×16
  (graph.py:191-212)
- node CNN (:48-55): DWSep(3→64) → DWSep(64→64) → MaxPool2 →
  DWSep(64→128) → Conv3×3(128→256, no padding) → global avg → 256-d
- edge CNN (:57-65): DWSep(3→128) → DWSep(128→128) → MaxPool2 →
  DWSep(128→256) → MaxPool2 → Conv3×3(no padding) → global avg → 256-d
  (quirk preserved: there is NO nonlinearity between the conv blocks)
- joins (:67-68): node Linear(4+256 → 256), edge Linear(6+256 → 256)
- 4 MetaLayers (:16-30): 256→512→1024→512→256, hidden = in_features,
  NO residuals (unlike G2)
- heads (:32-44): Linear(256,256)-ReLU-Dropout-Linear(256,{2,4})

Canonical deviations, frozen here (documented — the reference's tensor
plumbing is quirky): crops are resized with standard half-pixel-center
bilinear interpolation (the reference routes a full-crop box through
torchvision RoIAlign with transposed H/W axes — a consistent pixel
permutation, not semantics we preserve); grayscale fixture images are
replicated to 3 channels; pixel values stay in [0, 255] float32 (the
reference applies no normalization).

Weights: every array is named ``g3.*`` (:func:`is_visual`); the seeded
Xavier-uniform float32 init (:func:`init_weights`) is trained by
``core/train.py`` into the default artifact (:func:`default_weights`),
shared by oracle and executors — the reference ships no checkpoint.
"""

from __future__ import annotations

import numpy as np

from .gnn import _committed_weights, _matmul_blocks, _metalayers_heads

NODE_CROP = 10
EDGE_CROP = 16
CROP_PAD = 20  # graph.py:176,191

# (in_node, in_edge, hidden, out_node, out_edge, residual)
VISUAL_LAYER_SPECS = [
    (256, 256, 256, 512, 512, False),
    (512, 512, 512, 1024, 1024, False),
    (1024, 1024, 1024, 512, 512, False),
    (512, 512, 512, 256, 256, False),
]

# CNN specs: list of ops. ("dw", in_ch), ("pw", in_ch, out_ch),
# ("conv", in_ch, out_ch) [3x3 no pad], ("pool",), ("avg",)
NODE_CNN = [
    ("dw", 3), ("pw", 3, 64),
    ("dw", 64), ("pw", 64, 64),
    ("pool",),
    ("dw", 64), ("pw", 64, 128),
    ("conv", 128, 256),
    ("avg",),
]
EDGE_CNN = [
    ("dw", 3), ("pw", 3, 128),
    ("dw", 128), ("pw", 128, 128),
    ("pool",),
    ("dw", 128), ("pw", 128, 256),
    ("pool",),
    ("conv", 256, 256),
    ("avg",),
]


def _resize_regions(img, y0, x0, h, w, out_h, out_w):
    """Bilinear resize (half-pixel centers) of many regions of one image
    at once: region ``r`` is ``img[y0[r]:y0[r]+h[r], x0[r]:x0[r]+w[r]]``;
    ``img`` is (H, W) or (H, W, C), the result (R, out_h, out_w[, C])
    float64.
    An empty region (``h`` or ``w`` ≤ 0) resizes to zeros, as a 1×1
    black one would."""
    empty = (h <= 0) | (w <= 0)
    y0, x0 = np.where(empty, 0, y0), np.where(empty, 0, x0)
    h = np.where(empty, 1, h)[:, None]
    w = np.where(empty, 1, w)[:, None]
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    yi0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    xi0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    yi1 = np.clip(yi0 + 1, 0, h - 1)
    xi1 = np.clip(xi0 + 1, 0, w - 1)
    tail = (None,) * (img.ndim - 2)  # channels broadcast over weights
    wy = np.clip(ys - yi0, 0.0, 1.0)[(slice(None), slice(None), None) + tail]
    wx = np.clip(xs - xi0, 0.0, 1.0)[(slice(None), None, slice(None)) + tail]
    r0 = (y0[:, None] + yi0)[:, :, None]
    r1 = (y0[:, None] + yi1)[:, :, None]
    c0 = (x0[:, None] + xi0)[:, None, :]
    c1 = (x0[:, None] + xi1)[:, None, :]
    out = (
        img[r0, c0] * (1 - wy) * (1 - wx)
        + img[r0, c1] * (1 - wy) * wx
        + img[r1, c0] * wy * (1 - wx)
        + img[r1, c1] * wy * wx
    )
    out[empty] = 0.0
    return out


def crop_regions(image: np.ndarray, bboxes: np.ndarray, edges: np.ndarray):
    """Image + bboxes/edges → (node_crops (N,3,10,10), edge_crops
    (E,3,16,16)) float32 in [0,255]. Accepts (H, W) grayscale
    (replicated to 3 channels) or (H, W, 3) color (e.g.
    ``jpeg_decode_rgb`` output — per-channel bilinear resize, matching
    the reference's 3-channel ``cv2.imread`` crops, graph.py:174).
    Every crop of one size is cut and resized in one array pass."""
    color = image.ndim == 3
    h, w = image.shape[:2]
    img = image.astype(np.float32)

    def bounds(lo, hi, size):
        # the padded box clamped to the image, then read as the slice
        # ``lo:hi`` (a negative end counts from the far side)
        lo = np.minimum(np.maximum(lo - CROP_PAD, 0), size)
        hi = np.minimum(hi + CROP_PAD, size)
        return lo, np.where(hi < 0, np.maximum(hi + size, 0), hi) - lo

    def crops(boxes, dim):
        x0, cw = bounds(boxes[:, 0], boxes[:, 2], w)
        y0, ch = bounds(boxes[:, 1], boxes[:, 3], h)
        r = _resize_regions(img, y0, x0, ch, cw, dim, dim)
        if color:
            return r.transpose(0, 3, 1, 2).astype(np.float32)
        r = r.astype(np.float32)[:, None]
        return np.broadcast_to(r, (len(r), 3, dim, dim)).copy()

    b = np.asarray(bboxes, dtype=np.int64).reshape(-1, 4)
    e = np.asarray(edges, dtype=np.int64).reshape(-1, 2)
    # an edge's crop is the union bbox of its two ends
    eb = np.concatenate(
        [np.minimum(b[e[:, 0], :2], b[e[:, 1], :2]),
         np.maximum(b[e[:, 0], 2:], b[e[:, 1], 2:])],
        axis=1,
    )
    return crops(b, NODE_CROP), crops(eb, EDGE_CROP)


# ------------------------------------------------------------- conv ops
def _im2col(x, k=3, pad=0):
    """(B, C, H, W) → (B, H'·W', C·k·k) with H' = H+2p-k+1."""
    b, c, h, w = x.shape
    if pad:
        x = np.pad(x, ((0, 0), (0, 0), (pad, pad), (pad, pad)))
    ho, wo = h + 2 * pad - k + 1, w + 2 * pad - k + 1
    s = x.strides
    windows = np.lib.stride_tricks.as_strided(
        x,
        shape=(b, c, ho, wo, k, k),
        strides=(s[0], s[1], s[2], s[3], s[2], s[3]),
        writeable=False,
    )
    return (
        windows.transpose(0, 2, 3, 1, 4, 5).reshape(b, ho * wo, c * k * k),
        ho,
        wo,
    )


def conv2d(x, w, bias, pad=0):
    """standard conv: w (out_c, in_c, k, k)."""
    out_c, in_c, k, _ = w.shape
    cols, ho, wo = _im2col(x, k, pad)
    out = cols @ w.reshape(out_c, in_c * k * k).T + bias
    return out.transpose(0, 2, 1).reshape(len(x), out_c, ho, wo)


def depthwise_conv2d(x, w, bias):
    """w (C, k, k), padding 1 (same size) — torch Conv2d(groups=C, p=1).

    Computed as k² shifted multiply-adds on contiguous slices: 2-4×
    faster than the earlier einsum over a 6-D strided window view
    (einsum can't vectorize the non-contiguous walk; measured 294 →
    74 ms on a (150,128,16,16) batch). Equivalent up to float32
    summation order (~4e-6); the Spark kernel and the no-Spark oracle
    share this code, so span parity is unaffected."""
    b, c, h, w_ = x.shape
    k = w.shape[1]
    xp = np.pad(x, ((0, 0), (0, 0), (1, 1), (1, 1)))
    out = np.zeros((b, c, h, w_), dtype=np.float32)
    for i in range(k):
        for j in range(k):
            out += xp[:, :, i : i + h, j : j + w_] * w[:, i, j][
                None, :, None, None
            ]
    return out + bias[None, :, None, None]


def maxpool2(x):
    b, c, h, w = x.shape
    return x[:, :, : h // 2 * 2, : w // 2 * 2].reshape(
        b, c, h // 2, 2, w // 2, 2
    ).max(axis=(3, 5))


def _cnn_forward(x, weights, prefix, spec):
    i = 0
    for op in spec:
        if op[0] == "dw":
            x = depthwise_conv2d(
                x, weights[f"{prefix}.{i}.w"], weights[f"{prefix}.{i}.b"]
            )
            i += 1
        elif op[0] == "pw":
            x = conv2d(
                x,
                weights[f"{prefix}.{i}.w"],
                weights[f"{prefix}.{i}.b"],
                pad=0,
            )
            i += 1
        elif op[0] == "conv":
            x = conv2d(
                x,
                weights[f"{prefix}.{i}.w"],
                weights[f"{prefix}.{i}.b"],
                pad=0,
            )
            i += 1
        elif op[0] == "pool":
            x = maxpool2(x)
        elif op[0] == "avg":
            x = x.mean(axis=(2, 3))
    return x.astype(np.float32)


# ------------------------------------------------------------- weights
def _shapes():
    shapes = []

    def cnn_shapes(prefix, spec):
        i = 0
        for op in spec:
            if op[0] == "dw":
                shapes.append((f"{prefix}.{i}", "dw", op[1]))
                i += 1
            elif op[0] in ("pw", "conv"):
                k = 1 if op[0] == "pw" else 3
                shapes.append((f"{prefix}.{i}", "conv", (op[2], op[1], k)))
                i += 1

    cnn_shapes("g3.node_cnn", NODE_CNN)
    cnn_shapes("g3.edge_cnn", EDGE_CNN)
    shapes.append(("g3.node_join", "lin", (4 + 256, 256)))
    shapes.append(("g3.edge_join", "lin", (6 + 256, 256)))
    for i, (n_in, e_in, hid, n_out, e_out, _r) in enumerate(
        VISUAL_LAYER_SPECS, 1
    ):
        shapes.append((f"g3.l{i}.edge.0", "lin", (2 * n_in + e_in, hid)))
        shapes.append((f"g3.l{i}.edge.1", "lin", (hid, e_out)))
        shapes.append((f"g3.l{i}.node1.0", "lin", (n_in + e_out, hid)))
        shapes.append((f"g3.l{i}.node1.1", "lin", (hid, n_out)))
        shapes.append((f"g3.l{i}.node2.0", "lin", (n_in + n_out, hid)))
        shapes.append((f"g3.l{i}.node2.1", "lin", (hid, n_out)))
    shapes.append(("g3.head.node.0", "lin", (256, 256)))
    shapes.append(("g3.head.node.1", "lin", (256, 2)))
    shapes.append(("g3.head.edge.0", "lin", (256, 256)))
    shapes.append(("g3.head.edge.1", "lin", (256, 4)))
    return shapes


def init_weights(seed: int = 42) -> dict:
    rng = np.random.default_rng(seed)
    w = {}
    for name, kind, dims in _shapes():
        if kind == "lin":
            fan_in, fan_out = dims
            lim = float(np.sqrt(6.0 / (fan_in + fan_out)))
            w[name + ".w"] = rng.uniform(-lim, lim, (fan_in, fan_out)).astype(
                np.float32
            )
            w[name + ".b"] = np.zeros(fan_out, dtype=np.float32)
        elif kind == "dw":
            c = dims
            lim = float(np.sqrt(6.0 / (9 + 9)))
            w[name + ".w"] = rng.uniform(-lim, lim, (c, 3, 3)).astype(
                np.float32
            )
            w[name + ".b"] = np.zeros(c, dtype=np.float32)
        else:  # conv
            out_c, in_c, k = dims
            fan_in, fan_out = in_c * k * k, out_c * k * k
            lim = float(np.sqrt(6.0 / (fan_in + fan_out)))
            w[name + ".w"] = rng.uniform(
                -lim, lim, (out_c, in_c, k, k)
            ).astype(np.float32)
            w[name + ".b"] = np.zeros(out_c, dtype=np.float32)
    return w


def default_weights() -> dict:
    """G3 weights shared by the Spark kernel and the no-Spark oracle (so
    parity holds by construction): the committed trained artifact
    ``weights/g3_trained_seed42.npz``, trained from :func:`init_weights`
    by ``core/train.py``'s loop. Loaded once per process by
    :func:`gnn.load_weights` (the 59 MB npz costs ~1.2 s to decompress,
    and every visual-query invocation resolves weights driver-side); a
    missing artifact raises an error naming it."""
    return _committed_weights("g3_trained_seed42.npz")


def is_visual(weights: dict) -> bool:
    """True for G3 weights, False for G2: every G3 array is named
    ``g3.*`` and no G2 array is, so the weights alone pick the model."""
    return any(k.startswith("g3.") for k in weights)


def cnn_features(node_crops: np.ndarray, edge_crops: np.ndarray,
                 weights: dict):
    """(node features (N,256), edge features (E,256)) of the crops."""
    nv = _cnn_forward(node_crops, weights, "g3.node_cnn", NODE_CNN)
    if not len(edge_crops):
        return nv, np.zeros((0, 256), dtype=np.float32)
    return nv, _cnn_forward(edge_crops, weights, "g3.edge_cnn", EDGE_CNN)


def _linear(w, name, x, off):
    out = _matmul_blocks(x, w[name + ".w"], off)
    out += w[name + ".b"]
    return out


def forward(
    x_geo: np.ndarray,
    edge_index: np.ndarray,
    edge_attr: np.ndarray,
    node_crops: np.ndarray,
    edge_crops: np.ndarray,
    weights: dict,
):
    """Full G3 forward. Returns (node_log_probs (N,2), edge_log_probs (E,4))."""
    nv, ev = cnn_features(node_crops, edge_crops, weights)
    return forward_many(
        x_geo, edge_index, edge_attr, nv, ev, weights,
        np.array([0, len(x_geo)]), np.array([0, len(edge_attr)]),
    )


def forward_many(
    x_geo, edge_index, edge_attr, node_feats, edge_feats, weights,
    node_off, edge_off,
):
    """:func:`forward` of many images in one pass, from the crops' CNN
    features (:func:`cnn_features`), bit-identical to each image's own;
    the row layout is :func:`gnn.forward_many`'s. A task holding many
    images runs ONE batched CNN over all their crops (bit-identical to
    per-image: ``conv2d`` runs one fixed-shape GEMM per crop), then this
    one pass with a GEMM per image."""
    x_geo = np.asarray(x_geo, dtype=np.float32)
    e_geo = np.asarray(edge_attr, dtype=np.float32)
    x = _linear(weights, "g3.node_join",
                np.concatenate([x_geo, node_feats], axis=1),
                node_off).astype(np.float32)
    e = _linear(weights, "g3.edge_join",
                np.concatenate([e_geo, edge_feats], axis=1),
                edge_off).astype(np.float32)
    return _metalayers_heads(
        x, edge_index, e, weights, node_off, edge_off, "g3.",
        VISUAL_LAYER_SPECS,
    )
