"""G3 autodiff for :func:`train.train`: the crop CNNs and the joins.

The reference's *configured default* is the visual model (config.ini:44
model_name = VisualNodeEdgeMLPEnding). ``train.train`` trains it when
handed G3 weights (``visual.init_weights``), with this module's
:func:`forward_cached`/:func:`backward`: the exact backward pass of
``visual.forward`` through both crop CNNs (depthwise/pointwise/3×3 conv,
maxpool, global avg; NO inter-block nonlinearity, preserving the
reference quirk) and the geometry/visual join linears, wrapped around
the MetaLayer stack and edge head G2 shares (``train._stack_fwd``/
``train._stack_bwd`` with the ``g3.`` weights and
``visual.VISUAL_LAYER_SPECS``). Everything else — edges-only loss, Adam,
best-valid checkpointing, the data — is ``train.py``'s.

All ops are dtype-generic (inputs are cast to the weights' dtype) so the
float64 central-difference gradient check (tests/test_visual_train.py)
runs on the real model.
"""

from __future__ import annotations

import numpy as np

from . import visual
from .train import _stack_bwd, _stack_fwd

# ----------------------------------------------------------- CNN autodiff


def _dw_fwd(x, k, b):
    B, C, H, W = x.shape
    xp = np.pad(x, ((0, 0), (0, 0), (1, 1), (1, 1)))
    out = np.zeros((B, C, H, W), dtype=x.dtype)
    for i in range(3):
        for j in range(3):
            out += xp[:, :, i : i + H, j : j + W] * k[:, i, j][
                None, :, None, None
            ]
    return out + b[None, :, None, None], xp


def _dw_bwd(dout, xp, k):
    B, C, H, W = dout.shape
    dk = np.zeros_like(k)
    dxp = np.zeros_like(xp)
    for i in range(3):
        for j in range(3):
            dk[:, i, j] = (dout * xp[:, :, i : i + H, j : j + W]).sum(
                axis=(0, 2, 3)
            )
            dxp[:, :, i : i + H, j : j + W] += dout * k[:, i, j][
                None, :, None, None
            ]
    return dk, dout.sum(axis=(0, 2, 3)), dxp[:, :, 1:-1, 1:-1]


def _conv_fwd(x, w, b):
    out_c, _in_c, k, _ = w.shape
    cols, ho, wo = visual._im2col(x, k, pad=0)
    cols = np.ascontiguousarray(cols)
    out = cols @ w.reshape(out_c, -1).T + b
    return (
        out.transpose(0, 2, 1).reshape(len(x), out_c, ho, wo),
        (cols, x.shape, ho, wo),
    )


def _conv_bwd(dout, cache, w):
    cols, xshape, ho, wo = cache
    B, out_c = dout.shape[:2]
    in_c, k = w.shape[1], w.shape[2]
    d2 = dout.reshape(B, out_c, ho * wo).transpose(0, 2, 1)  # (B, P, out_c)
    dw = np.einsum("bpo,bpk->ok", d2, cols).reshape(w.shape)
    db = dout.sum(axis=(0, 2, 3))
    dcols = d2 @ w.reshape(out_c, -1)  # (B, P, C·k²)
    dc = dcols.reshape(B, ho, wo, in_c, k, k)
    dx = np.zeros(xshape, dtype=dout.dtype)
    for i in range(k):
        for j in range(k):
            dx[:, :, i : i + ho, j : j + wo] += dc[:, :, :, :, i, j].transpose(
                0, 3, 1, 2
            )
    return dw, db, dx


def _pool_fwd(x):
    B, C, H, W = x.shape
    h2, w2 = H // 2, W // 2
    xr = x[:, :, : h2 * 2, : w2 * 2].reshape(B, C, h2, 2, w2, 2)
    win = np.ascontiguousarray(xr.transpose(0, 1, 2, 4, 3, 5)).reshape(
        B, C, h2, w2, 4
    )
    idx = win.argmax(axis=-1)
    out = np.take_along_axis(win, idx[..., None], axis=-1)[..., 0]
    return out, (idx, x.shape)


def _pool_bwd(dout, cache):
    idx, xshape = cache
    B, C, H, W = xshape
    h2, w2 = H // 2, W // 2
    dwin = np.zeros((B, C, h2, w2, 4), dtype=dout.dtype)
    np.put_along_axis(dwin, idx[..., None], dout[..., None], axis=-1)
    dxr = dwin.reshape(B, C, h2, w2, 2, 2).transpose(0, 1, 2, 4, 3, 5)
    dx = np.zeros(xshape, dtype=dout.dtype)
    dx[:, :, : h2 * 2, : w2 * 2] = dxr.reshape(B, C, h2 * 2, w2 * 2)
    return dx


def _cnn_fwd_cached(x, w, prefix, spec):
    caches = []
    i = 0
    for op in spec:
        if op[0] == "dw":
            name = f"{prefix}.{i}"
            x, xp = _dw_fwd(x, w[name + ".w"], w[name + ".b"])
            caches.append(("dw", name, xp))
            i += 1
        elif op[0] in ("pw", "conv"):
            name = f"{prefix}.{i}"
            x, c = _conv_fwd(x, w[name + ".w"], w[name + ".b"])
            caches.append(("conv", name, c))
            i += 1
        elif op[0] == "pool":
            x, c = _pool_fwd(x)
            caches.append(("pool", None, c))
        elif op[0] == "avg":
            caches.append(("avg", None, x.shape))
            x = x.mean(axis=(2, 3))
    return x, caches


def _cnn_bwd(dout, w, g, caches):
    dx = dout
    for kind, name, c in reversed(caches):
        if kind == "avg":
            shape = c
            dx = np.broadcast_to(
                dx[:, :, None, None] / (shape[2] * shape[3]), shape
            ).astype(dout.dtype)
        elif kind == "pool":
            dx = _pool_bwd(dx, c)
        elif kind == "conv":
            dw, db, dx = _conv_bwd(dx, c, w[name + ".w"])
            g[name + ".w"] += dw
            g[name + ".b"] += db
        elif kind == "dw":
            dk, db, dx = _dw_bwd(dx, c, w[name + ".w"])
            g[name + ".w"] += dk
            g[name + ".b"] += db
    return dx


# --------------------------------------------------------- model autodiff


def forward_cached(x_geo, edge_index, edge_attr, node_crops, edge_crops, w):
    """visual.forward with every intermediate cached; returns raw edge
    logits (pre-log-softmax) + state for :func:`backward`."""
    dt = w["g3.node_join.w"].dtype
    x_geo = np.asarray(x_geo, dtype=dt)
    e_geo = np.asarray(edge_attr, dtype=dt)
    node_crops = np.asarray(node_crops, dtype=dt)
    edge_crops = np.asarray(edge_crops, dtype=dt)

    nv, cn_cnn = _cnn_fwd_cached(node_crops, w, "g3.node_cnn", visual.NODE_CNN)
    ev, ce_cnn = _cnn_fwd_cached(edge_crops, w, "g3.edge_cnn", visual.EDGE_CNN)

    nj_in = np.concatenate([x_geo, nv], axis=1)
    x = nj_in @ w["g3.node_join.w"] + w["g3.node_join.b"]
    ej_in = np.concatenate([e_geo, ev], axis=1)
    e = ej_in @ w["g3.edge_join.w"] + w["g3.edge_join.b"]

    edge_logits, stack = _stack_fwd(
        x, edge_index, e, w, "g3.", visual.VISUAL_LAYER_SPECS
    )
    return edge_logits, (stack, cn_cnn, ce_cnn, nj_in, ej_in)


def backward(dlogits, w, state):
    """Gradients of the edge-NLL wrt every G3 weight (edge head,
    MetaLayers, joins, both CNNs; node head untouched — edges-only
    loss, like the reference)."""
    stack, cn_cnn, ce_cnn, nj_in, ej_in = state
    g, dx, de = _stack_bwd(
        dlogits, w, stack, "g3.", visual.VISUAL_LAYER_SPECS
    )
    # joins
    g["g3.node_join.w"] += nj_in.T @ dx
    g["g3.node_join.b"] += dx.sum(axis=0)
    dnj = dx @ w["g3.node_join.w"].T
    g["g3.edge_join.w"] += ej_in.T @ de
    g["g3.edge_join.b"] += de.sum(axis=0)
    dej = de @ w["g3.edge_join.w"].T
    # CNNs (geometry features are inputs; their grads are discarded)
    _cnn_bwd(dnj[:, 4:], w, g, cn_cnn)
    _cnn_bwd(dej[:, 6:], w, g, ce_cnn)
    return g
