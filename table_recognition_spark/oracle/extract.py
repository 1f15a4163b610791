"""Single-node, Spark-free oracle — the span-sequence equality target.

Implements the frozen canonical semantics of SURVEY.md §2.10-2.11 over the
fixture corpus: for each document, walk spans in offset order; text spans
pass through the boilerplate strip and re-emit as kind='main_text'; media
spans run the table-recognition kernel (k-NN graph → geometry features →
G2 GNN forward → argmax decode → cell assembly) and re-emit one
kind='cell' span per assembled cell. Output offsets are dense 0..n-1.

De-facto reference inference path being re-expressed: load weights →
forward → argmax (train.py:175-215, SURVEY.md §3.3) + our canonical cell
assembly (§2.11; absent in the reference).
"""

from __future__ import annotations

import numpy as np

from ..core import assemble, boilerplate, geometry, gnn, knn, visibility
from ..core.bbox import polygons_to_bboxes

EDGE_STRATEGIES = {
    "knn": lambda b, w, h: knn.knn_edges(b),
    "visibility": visibility.visibility_edges,
}


def run_kernel_arrays(
    bboxes: np.ndarray,
    texts: list,
    width: int,
    height: int,
    weights: dict,
    strategy: str = "knn",
    model: str = "g2",
    image: bytes | None = None,
    visual_weights: dict | None = None,
) -> list:
    """Array-form kernel: bboxes (n,4) int, texts list[str], rows already
    in line_id order. This is THE kernel — the dict-based ``run_kernel``
    and the Arrow-batched Spark path both funnel here, so parity is by
    construction.

    ``model``: 'g2' (geometry-only, SURVEY §2.8 G2) or 'visual' (G3 — the
    reference's configured default, node_edge_mlp_ending_visual.py); the
    visual model additionally needs the PNG ``image`` bytes and its own
    ``visual_weights``.
    """
    if len(bboxes) == 0:
        return []
    from ..core.blas import limit_blas_threads

    limit_blas_threads(1)
    edges = EDGE_STRATEGIES[strategy](bboxes, width, height)
    x = geometry.node_features(bboxes, width, height)
    e = geometry.edge_features(edges, bboxes, width, height)
    if model == "visual":
        from ..core import visual
        from ..operators.multimodal import decode_image_visual

        if visual_weights is None:
            visual_weights = visual.default_weights()
        # PNG fixtures stay grayscale (replicated to 3
        # channels in crop_regions); JPEG — the reference's actual
        # corpus container — decodes to (H, W, 3) color like the
        # reference's cv2.imread
        img = decode_image_visual(bytes(image))
        node_crops, edge_crops = visual.crop_regions(img, bboxes, edges)
        node_lp, edge_lp = visual.forward(
            x, edges, e, node_crops, edge_crops, visual_weights
        )
    else:
        node_lp, edge_lp = gnn.forward(x, edges, e, weights)
    _, edge_cls = gnn.decode(node_lp, edge_lp)
    return assemble.assemble_cells(edges, edge_cls, bboxes, texts)


def run_kernel_arrays_many(
    images: list,
    strategy: str = "knn",
    visual_weights: dict | None = None,
) -> list:
    """Visual-model kernel over MANY images with the CNN feature
    extraction fused across them: one im2col/GEMM chain per CNN for the
    whole batch instead of one per image (small per-image crop batches
    under-utilize the GEMM; at corpus scale a task holds many images).

    ``images``: list of (bboxes (n,4) int64, texts, width, height,
    image_bytes) tuples, each row already in line_id order. Returns one
    cell-text list per input image.

    Bit-identity with the per-image path (``run_kernel_arrays`` with
    model='visual') holds because every fused op works on each crop
    alone: ``conv2d`` multiplies a 3-D ``(B, H'·W', C·k·k)`` stack, so
    each crop is its own GEMM with a fixed M whatever the batch size
    (pinned by tests/test_visual.py), and depthwise/pool/avg are
    elementwise per sample. A 2-D GEMM over rows stacked from several
    images would not be exact: with OpenBLAS 0.3.23 (Haswell kernel),
    an odd row count changes the last row's low bits. The no-Spark oracle stays per-image; span parity between the
    two is exercised by the pipeline parity tests."""
    from ..core import visual
    from ..core.blas import limit_blas_threads
    from ..operators.multimodal import decode_image_visual

    limit_blas_threads(1)
    if visual_weights is None:
        visual_weights = visual.default_weights()

    per_img = []  # (bboxes, texts, edges, x, e, n_nodes, n_edges)
    node_crops_all, edge_crops_all = [], []
    for bboxes, texts, width, height, image in images:
        if len(bboxes) == 0:
            per_img.append(None)
            continue
        edges = EDGE_STRATEGIES[strategy](bboxes, width, height)
        x = geometry.node_features(bboxes, width, height)
        e = geometry.edge_features(edges, bboxes, width, height)
        img = decode_image_visual(bytes(image))
        nc, ec = visual.crop_regions(img, bboxes, edges)
        node_crops_all.append(nc)
        edge_crops_all.append(ec)
        per_img.append((bboxes, texts, edges, x, e, len(nc), len(ec)))

    if not node_crops_all:
        return [[] for _ in images]
    nv_all = visual._cnn_forward(
        np.concatenate(node_crops_all), visual_weights,
        "g3.node_cnn", visual.NODE_CNN,
    )
    ec_cat = np.concatenate(edge_crops_all)
    if len(ec_cat):
        ev_all = visual._cnn_forward(
            ec_cat, visual_weights, "g3.edge_cnn", visual.EDGE_CNN,
        )
    else:
        ev_all = np.zeros((0, 256), dtype=np.float32)

    out, n_off, e_off = [], 0, 0
    for item in per_img:
        if item is None:
            out.append([])
            continue
        bboxes, texts, edges, x, e, n_n, n_e = item
        nv = nv_all[n_off : n_off + n_n]
        ev = ev_all[e_off : e_off + n_e]
        n_off += n_n
        e_off += n_e
        node_lp, edge_lp = visual.forward(
            x, edges, e, None, None, visual_weights,
            node_feats=nv, edge_feats=ev,
        )
        _, edge_cls = gnn.decode(node_lp, edge_lp)
        out.append(assemble.assemble_cells(edges, edge_cls, bboxes, texts))
    return out


def run_kernel(
    ocr_lines: list,
    width: int,
    height: int,
    weights: dict,
    strategy: str = "knn",
    **kernel_opts,
) -> list:
    """One image → ordered list of assembled cell texts.

    ``ocr_lines``: list of dicts/rows with line_id, points [(x,y)...], text.
    Lines are processed in line_id order (NODE_COUNTER semantics).
    ``strategy``: edge discovery — 'knn' (J1) or 'visibility' (J2, the
    reference's configured default), mirroring graph.py:34-37.
    Lines with no points have no bbox and are dropped, so an image whose
    lines all have none has no cells, like one with no lines.
    """
    lines = sorted(
        (line for line in ocr_lines if line["points"]),
        key=lambda d: d["line_id"],
    )
    if not lines:
        return []

    def pt(p):
        # fixture dicts and Arrow-struct dicts both carry x/y keys;
        # accept plain pairs too
        return (p["x"], p["y"]) if isinstance(p, dict) else (p[0], p[1])

    polys = [[pt(p) for p in line["points"]] for line in lines]
    texts = [line["text"] for line in lines]
    bboxes = polygons_to_bboxes(polys)
    return run_kernel_arrays(
        bboxes, texts, width, height, weights, strategy, **kernel_opts
    )


def extract_corpus(
    docs: list,
    media: list,
    weights: dict,
    strategy: str = "knn",
    model: str = "g2",
    visual_weights: dict | None = None,
) -> dict:
    """Whole corpus → {doc_id: output spans}, with per-media_ref kernel
    results memoized (the distributed pipeline dedups identically).
    Spans of a kind other than ``text`` or ``media`` emit nothing."""
    media_by_ref = {m["media_ref"]: m for m in media}
    kernel_cache: dict = {}

    def cached_cells(ref):
        if ref not in kernel_cache:
            m = media_by_ref.get(ref)
            kernel_cache[ref] = (
                None
                if m is None
                else run_kernel(
                    m["ocr_lines"],
                    m["width"],
                    m["height"],
                    weights,
                    strategy,
                    model=model,
                    image=m.get("image") if model == "visual" else None,
                    visual_weights=visual_weights,
                )
            )
        return kernel_cache[ref]

    result = {}
    for d in docs:
        out = []
        for s in sorted(d["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "text":
                out.append(
                    {
                        "kind": "main_text",
                        "text": boilerplate.strip_boilerplate(s["text"]),
                        "media_ref": "",
                    }
                )
            elif s["kind"] == "media":
                cells = cached_cells(s["media_ref"])
                if cells is None:
                    continue
                for t in cells:
                    out.append(
                        {"kind": "cell", "text": t, "media_ref": s["media_ref"]}
                    )
        for i, s in enumerate(out):
            s["offset"] = i
        result[d["doc_id"]] = out
    return result
