"""Single-node, Spark-free oracle — the span-sequence equality target.

Implements the frozen canonical semantics of SURVEY.md §2.10-2.11 over the
fixture corpus: for each document, walk spans in offset order; text spans
pass through the boilerplate strip and re-emit as kind='main_text'; media
spans run the table-recognition kernel (k-NN graph → geometry features →
GNN forward → argmax decode → cell assembly) and re-emit one
kind='cell' span per assembled cell. Output offsets are dense 0..n-1.
The weights pick the GNN: G2 (geometry only) or G3 (adds CNN features
of image crops, so it reads the media's ``image`` bytes).

De-facto reference inference path being re-expressed: load weights →
forward → argmax (train.py:175-215, SURVEY.md §3.3) + our canonical cell
assembly (§2.11; absent in the reference).
"""

from __future__ import annotations

import numpy as np

from ..core import (
    assemble, boilerplate, geometry, gnn, knn, visibility, visual,
)
from ..core.bbox import polygons_to_bboxes
from ..core.blas import limit_blas_threads

EDGE_STRATEGIES = {
    "knn": lambda b, w, h: knn.knn_edges(b),
    "visibility": visibility.visibility_edges,
}


def run_kernel_arrays_many(
    images: list, weights: dict, strategy: str = "knn"
) -> list:
    """THE kernel, over one or many images: the Spark ``mapInArrow``
    kernel calls it once per Arrow record batch and :func:`run_kernel`
    with one image, so parity is by construction.

    ``images``: list of (bboxes (n,4) int64, texts, width, height,
    image-bytes-or-None) tuples, each row already in line_id order.
    Returns one cell-text list per input image; an image with no bboxes
    has no cells.

    The weights pick the model (:func:`visual.is_visual`). G2 runs
    ``gnn.forward`` per image: a block-diagonal forward over several
    images is not bit-identical to one image's. G3 decodes the image
    bytes and runs ONE batched CNN over every image's crops instead of
    a small under-utilized GEMM chain per image; that is bit-identical
    to the image alone because every CNN op works on each crop alone:
    ``conv2d`` multiplies a 3-D ``(B, H'·W', C·k·k)`` stack, so each crop
    is its own GEMM with a fixed M whatever the batch size (pinned by
    tests/test_visual.py), and depthwise/pool/avg are elementwise per
    sample. A 2-D GEMM over rows stacked from several images would not
    be exact: with OpenBLAS 0.3.23 (Haswell kernel), an odd row count
    changes the last row's low bits."""
    limit_blas_threads(1)
    g3 = visual.is_visual(weights)
    if g3:
        from ..operators.multimodal import decode_image_visual

    graphs, node_crops, edge_crops = [], [], []
    for bboxes, texts, width, height, image in images:
        if len(bboxes) == 0:
            graphs.append(None)
            continue
        edges = EDGE_STRATEGIES[strategy](bboxes, width, height)
        x = geometry.node_features(bboxes, width, height)
        e = geometry.edge_features(edges, bboxes, width, height)
        graphs.append((bboxes, texts, edges, x, e))
        if g3:
            # PNG fixtures stay grayscale (replicated to 3 channels in
            # crop_regions); JPEG — the reference's actual corpus
            # container — decodes to (H, W, 3) color like its cv2.imread
            nc, ec = visual.crop_regions(
                decode_image_visual(bytes(image)), bboxes, edges
            )
            node_crops.append(nc)
            edge_crops.append(ec)
    if g3 and node_crops:
        nv, ev = visual.cnn_features(
            np.concatenate(node_crops), np.concatenate(edge_crops), weights
        )

    out, n_off, e_off = [], 0, 0
    for graph in graphs:
        if graph is None:
            out.append([])
            continue
        bboxes, texts, edges, x, e = graph
        if g3:
            n_end, e_end = n_off + len(x), e_off + len(edges)
            node_lp, edge_lp = visual.forward(
                x, edges, e, None, None, weights,
                node_feats=nv[n_off:n_end], edge_feats=ev[e_off:e_end],
            )
            n_off, e_off = n_end, e_end
        else:
            node_lp, edge_lp = gnn.forward(x, edges, e, weights)
        _, edge_cls = gnn.decode(node_lp, edge_lp)
        out.append(assemble.assemble_cells(edges, edge_cls, bboxes, texts))
    return out


def run_kernel(
    ocr_lines: list,
    width: int,
    height: int,
    weights: dict,
    strategy: str = "knn",
    image: bytes | None = None,
) -> list:
    """One image → ordered list of assembled cell texts.

    ``ocr_lines``: list of dicts/rows with line_id, points [(x,y)...], text.
    Lines are processed in line_id order (NODE_COUNTER semantics).
    ``strategy``: edge discovery — 'knn' (J1) or 'visibility' (J2, the
    reference's configured default), mirroring graph.py:34-37.
    ``image``: the encoded page, read only by G3 weights.
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
    return run_kernel_arrays_many(
        [(bboxes, texts, width, height, image)], weights, strategy
    )[0]


def extract_corpus(
    docs: list,
    media: list,
    weights: dict,
    strategy: str = "knn",
) -> dict:
    """Whole corpus → {doc_id: output spans}, with per-media_ref kernel
    results memoized (the distributed pipeline dedups identically).
    Spans of a kind other than ``text`` or ``media`` emit nothing."""
    media_by_ref = {m["media_ref"]: m for m in media}
    kernel_cache: dict = {}

    def cached_cells(ref):
        if ref not in kernel_cache:
            m = media_by_ref.get(ref)
            kernel_cache[ref] = None if m is None else run_kernel(
                m["ocr_lines"], m["width"], m["height"], weights, strategy,
                image=m.get("image"),
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
