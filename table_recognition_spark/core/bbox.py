"""Bounding-box primitives.

Semantics mirror the reference's ``Node.calculate_node_bbox``
(/root/reference/table_recognition/graph/node.py:24-37): a text-line polygon
collapses to its axis-aligned bounding box; the center is computed with an
integer truncation ``int(min + (max - min) / 2)``.
"""

from __future__ import annotations

import numpy as np


def polygons_to_bboxes(polygons: list) -> np.ndarray:
    """List of per-line polygons (each an iterable of (x, y) int pairs) →
    int64 array of shape (n, 4): columns (xmin, ymin, xmax, ymax).
    """
    out = np.empty((len(polygons), 4), dtype=np.int64)
    for i, poly in enumerate(polygons):
        pts = np.asarray(poly, dtype=np.int64).reshape(-1, 2)
        out[i, 0] = pts[:, 0].min()
        out[i, 1] = pts[:, 1].min()
        out[i, 2] = pts[:, 0].max()
        out[i, 3] = pts[:, 1].max()
    return out


def bbox_centers(bboxes: np.ndarray) -> np.ndarray:
    """Integer centers per the reference's truncating formula
    (node.py:34): ``int(min + (max - min) / 2)``.

    Returns int64 array (n, 2) of (cx, cy).
    """
    b = np.asarray(bboxes, dtype=np.int64)
    # (min + (max-min)/2) with float division then truncation toward zero;
    # coords are non-negative so floor == trunc.
    cx = (b[:, 0] + (b[:, 2] - b[:, 0]) / 2.0).astype(np.int64)
    cy = (b[:, 1] + (b[:, 3] - b[:, 1]) / 2.0).astype(np.int64)
    return np.stack([cx, cy], axis=1)


def rect_min_distance(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Minimum Euclidean distance between axis-aligned rectangles.

    ``a``: (..., n, 4), ``b``: (..., m, 4) → float64 (..., n, m), with
    any leading batch dimensions broadcast. Zero when rectangles overlap
    or touch. This is the distance an R-tree ``nearest`` query ranks by
    (reference k_nearest_neighbors.py:20-21); we reimplement it so the
    ordering is explicit and tie-breakable.
    """
    a = np.asarray(a, dtype=np.float64)[..., :, None, :]
    b = np.asarray(b, dtype=np.float64)[..., None, :, :]
    dx = np.maximum(
        0.0, np.maximum(b[..., 0] - a[..., 2], a[..., 0] - b[..., 2])
    )
    dy = np.maximum(
        0.0, np.maximum(b[..., 1] - a[..., 3], a[..., 1] - b[..., 3])
    )
    return np.hypot(dx, dy)


def rect_iou(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Rectangle IoU, (n,4) × (m,4) → float64 (n,m).

    The reference computes polygon IoU with shapely (output.py:90-95) but
    every polygon it feeds is an axis-aligned bbox rectangle, so rectangle
    IoU is the exact same number without the shapely dependency.
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    ix = np.maximum(
        0.0,
        np.minimum(a[:, None, 2], b[None, :, 2])
        - np.maximum(a[:, None, 0], b[None, :, 0]),
    )
    iy = np.maximum(
        0.0,
        np.minimum(a[:, None, 3], b[None, :, 3])
        - np.maximum(a[:, None, 1], b[None, :, 1]),
    )
    inter = ix * iy
    area_a = (a[:, 2] - a[:, 0]) * (a[:, 3] - a[:, 1])
    area_b = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    union = area_a[:, None] + area_b[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        iou = np.where(union > 0, inter / union, 0.0)
    return iou


def rects_intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Closed-interval rectangle intersection test, (..., n, 4) ×
    (..., m, 4) → bool (..., n, m), with any leading batch dimensions
    broadcast.

    Closed intervals (touching counts) to match R-tree ``intersection``
    semantics used by the occlusion join (geometry_graph_colorer.py:99,132)
    and the GT label join (output.py:46,70).
    """
    a = np.asarray(a, dtype=np.int64)[..., :, None, :]
    b = np.asarray(b, dtype=np.int64)[..., None, :, :]
    return (
        (a[..., 0] <= b[..., 2])
        & (b[..., 0] <= a[..., 2])
        & (a[..., 1] <= b[..., 3])
        & (b[..., 1] <= a[..., 3])
    )


# padded (images, n_max, n_max) cells per chunk of a many-image pass:
# bounds the memory of the pairwise k-NN distances (2 MB per float64
# array) and occlusion tests, whatever mix of image sizes a batch holds
PAIR_BUDGET = 1 << 18


def image_chunks(node_off: np.ndarray):
    """Yield ``(a, b)``: consecutive image ranges of a many-image batch
    whose images, each padded to the range's largest, hold at most
    :data:`PAIR_BUDGET` node pairs (an image larger than that is a range
    of its own). ``node_off``: (B + 1,) row offsets; image ``i`` owns
    rows ``node_off[i]:node_off[i + 1]``."""
    sizes = np.diff(node_off)
    a, n_max = 0, 0
    for i, n in enumerate(sizes.tolist()):
        n_max = max(n_max, n)
        if i > a and (i + 1 - a) * n_max * n_max > PAIR_BUDGET:
            yield a, i
            a, n_max = i, n
    if len(sizes):
        yield a, len(sizes)


def pad_images(rows: np.ndarray, node_off: np.ndarray, a: int, b: int):
    """Images ``a:b`` of a many-image batch as a zero-padded
    ``(b - a, n_max, ...)`` array of their ``rows``, with the (b - a,)
    image sizes."""
    off = node_off[a : b + 1]
    sizes = np.diff(off)
    out = np.zeros(
        (b - a, int(sizes.max(initial=0))) + rows.shape[1:], rows.dtype
    )
    img = np.repeat(np.arange(b - a), sizes)
    out[img, np.arange(off[0], off[-1]) - off[img]] = rows[off[0] : off[-1]]
    return out, sizes
