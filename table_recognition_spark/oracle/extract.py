"""Single-node, Spark-free oracle — the span-sequence equality target.

Implements the frozen canonical semantics of SURVEY.md §2.10-2.11 over the
fixture corpus: for each document, walk spans in offset order; text spans
pass through the boilerplate strip and re-emit as kind='main_text'; media
spans run the table-recognition kernel (k-NN graph → geometry features →
GNN forward → argmax decode → cell assembly) and re-emit one
kind='cell' span per assembled cell. Output offsets are dense 0..n-1.
The weights pick the GNN: G2 (geometry only) or G3 (adds CNN features
of image crops, so it reads the media's ``image`` bytes). The kernel
(:func:`run_kernel_batch`) computes a whole batch of images in array
passes, bit-identical to one image at a time; the oracle calls it with
one image, the Spark kernel with each Arrow record batch.

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


def _visibility_edges_many(bboxes, node_off, widths, heights):
    """``visibility.visibility_edges`` per image, in batch rows."""
    parts = [np.empty((0, 2), dtype=np.int64)]
    for i, (s, e) in enumerate(zip(node_off[:-1], node_off[1:])):
        parts.append(
            visibility.visibility_edges(bboxes[s:e], widths[i], heights[i])
            + s
        )
    return np.concatenate(parts)


EDGE_STRATEGIES = {
    "knn": lambda b, off, w, h: knn.knn_edges_many(b, off),
    "visibility": _visibility_edges_many,
}


def run_kernel_batch(
    bboxes: np.ndarray,
    texts,
    node_off: np.ndarray,
    widths,
    heights,
    images,
    weights: dict,
    strategy: str = "knn",
):
    """THE kernel, over one record batch of images in array passes: the
    Spark ``mapInArrow`` kernel calls it once per Arrow record batch and
    :func:`run_kernel` with one image, so parity is by construction.

    Image ``i`` owns rows ``node_off[i]:node_off[i + 1]`` of ``bboxes``
    ((N, 4) int64) and ``texts`` (N strings), in line_id order; it is
    ``widths[i]`` × ``heights[i]`` and ``images[i]`` is its encoded page
    (read only by G3 weights). An image with no rows has no cells.
    Returns ``(cell_img, cells)``: every image's cell texts in order,
    image after image, with ``cell_img[c]`` the image of ``cells[c]``.

    Each step runs over the whole batch and is bit-identical to running
    each image alone: k-NN graphs, node and edge features and cell
    assembly are array passes in batch row ids; the GNN runs its gathers,
    scatter-means and softmaxes batch-wide and one GEMM per image per
    Linear (``gnn._matmul_blocks``) — a GEMM over rows stacked from
    several images would not be exact. The weights pick the model
    (:func:`visual.is_visual`). G3 decodes each image and runs ONE
    batched CNN over every image's crops; that is exact because every
    CNN op works on each crop alone: ``conv2d`` multiplies a 3-D
    ``(B, H'·W', C·k·k)`` stack, so each crop is its own GEMM with a
    fixed M whatever the batch size (pinned by tests/test_visual.py),
    and depthwise/pool/avg are elementwise per sample."""
    limit_blas_threads(1)
    node_off = np.asarray(node_off, dtype=np.int64)
    if node_off[-1] == 0:
        return np.empty(0, dtype=np.int64), []
    sizes = np.diff(node_off)
    widths = np.asarray(widths, dtype=np.int64)
    heights = np.asarray(heights, dtype=np.int64)
    edges = EDGE_STRATEGIES[strategy](bboxes, node_off, widths, heights)
    edge_off = np.searchsorted(edges[:, 0], node_off)
    x = geometry.node_features(
        bboxes, np.repeat(widths, sizes), np.repeat(heights, sizes)
    )
    e = geometry.edge_features_many(edges, bboxes, widths, heights, node_off)
    if visual.is_visual(weights):
        from ..operators.multimodal import decode_image_visual

        node_crops, edge_crops = [], []
        for i in np.flatnonzero(sizes).tolist():
            s, t = node_off[i], node_off[i + 1]
            # PNG fixtures stay grayscale (replicated to 3 channels in
            # crop_regions); JPEG — the reference's actual corpus
            # container — decodes to (H, W, 3) color like its cv2.imread
            nc, ec = visual.crop_regions(
                decode_image_visual(bytes(images[i])), bboxes[s:t],
                edges[edge_off[i] : edge_off[i + 1]] - s,
            )
            node_crops.append(nc)
            edge_crops.append(ec)
        nv, ev = visual.cnn_features(
            np.concatenate(node_crops), np.concatenate(edge_crops), weights
        )
        node_lp, edge_lp = visual.forward_many(
            x, edges, e, nv, ev, weights, node_off, edge_off
        )
    else:
        node_lp, edge_lp = gnn.forward_many(
            x, edges, e, weights, node_off, edge_off
        )
    _, edge_cls = gnn.decode(node_lp, edge_lp)
    return assemble.assemble_cells_many(
        edges, edge_cls, bboxes, texts, node_off
    )


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
    return run_kernel_batch(
        bboxes, texts, np.array([0, len(bboxes)]), [width], [height],
        [image], weights, strategy,
    )[1]


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
