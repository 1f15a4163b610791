"""Geometric input features (the "input colorer").

Node features (4) and edge features (6) with the exact semantics of the
reference's GeometryGraphColorer
(/root/reference/table_recognition/graph/colorers/geometry_graph_colorer.py:28-165):

node  = [cx/W, cy/H, bbox_w/W, bbox_h/H]                      (:28-40)
edge  = [center distance (normalized),                         (:53-55)
         midpoint x, midpoint y (normalized),                  (:57-59)
         orientation in degrees with the <5°/>175° → 180 snap  (:61-77)
         occlusion-corrected x overlap / min width,            (:79-125)
         occlusion-corrected y overlap / min height]           (:127-156)

Quirks preserved deliberately (SURVEY.md §2.10.8):
- orientation uses *raw integer* centers, the distance/midpoint use
  normalized centers;
- the right node is the one with strictly greater cx (ties → node2);
- raw overlap ≤ 0 stays 0 and is NOT normalized; positive overlap is
  occlusion-corrected with closed-interval pixel ranges then normalized
  by the smaller side;
- an overlap fully occluded (empty pixel set) becomes 0.
"""

from __future__ import annotations

import sys

import numpy as np

from .bbox import (
    bbox_centers, image_chunks, pad_images, rects_intersect,
)

_EPS = sys.float_info.epsilon


def node_features(bboxes: np.ndarray, img_w, img_h) -> np.ndarray:
    """(n, 4) float32 node input features. ``img_w``/``img_h``: the
    image size, or one value per row for the rows of many images."""
    b = np.asarray(bboxes, dtype=np.float64)
    c = bbox_centers(bboxes).astype(np.float64)
    f = np.empty((len(b), 4), dtype=np.float64)
    f[:, 0] = c[:, 0] / img_w
    f[:, 1] = c[:, 1] / img_h
    f[:, 2] = np.abs(b[:, 2] - b[:, 0]) / img_w
    f[:, 3] = np.abs(b[:, 3] - b[:, 1]) / img_h
    return f.astype(np.float32)


def _surviving_span(lo, hi, occ_row, occ_lo, occ_hi):
    """Pixel-range subtraction (geometry_graph_colorer.py:107-120) for
    many ranges at once.

    Row ``r`` starts from the closed integer range ``[lo[r], hi[r]]`` and
    loses each of its occluders' closed ranges ``[occ_lo[p], occ_hi[p]]``
    (``occ_row[p] == r``, grouped by row); returns (last - first) of what
    survives, else 0. The first surviving pixel is ``lo`` or the pixel
    just past some occluder's end; the last is ``hi`` or the pixel just
    before some occluder's start — so testing those candidates against
    the row's occluders finds both without walking pixels.
    """
    R = len(lo)
    cnt = np.bincount(occ_row, minlength=R)
    occ_start = np.cumsum(cnt) - cnt
    ids = np.arange(R)
    rows = np.concatenate([ids, occ_row, ids, occ_row])
    vals = np.concatenate([lo, occ_hi + 1, hi, occ_lo - 1])
    n_first = R + len(occ_row)
    # every (candidate, occluder of its row) pair
    reps = cnt[rows]
    cand = np.repeat(np.arange(len(rows)), reps)
    occ = np.repeat(occ_start[rows] - np.cumsum(reps) + reps, reps) + (
        np.arange(len(cand))
    )
    hit = (occ_lo[occ] <= vals[cand]) & (vals[cand] <= occ_hi[occ])
    free = np.ones(len(rows), dtype=bool)
    free[cand[hit]] = False
    free &= (lo[rows] <= vals) & (vals <= hi[rows])
    first = np.full(R, np.iinfo(np.int64).max)
    last = np.full(R, np.iinfo(np.int64).min)
    f, la = free[:n_first], free[n_first:]
    np.minimum.at(first, rows[:n_first][f], vals[:n_first][f])
    np.maximum.at(last, rows[n_first:][la], vals[n_first:][la])
    span = np.zeros(R, dtype=np.int64)
    some = first <= hi
    span[some] = last[some] - first[some]
    return span


def _occluders(box, src, dst, img, bboxes, node_off):
    """(edge row, node) pairs, grouped by edge row: the nodes of each
    edge's image, other than its two ends, whose bbox meets the edge's
    occlusion ``box`` (closed intervals, geometry_graph_colorer.py:99,132).
    ``img``: each edge's image, non-decreasing."""
    rel_off = np.searchsorted(img, np.arange(len(node_off)))
    rows, nodes = [], []
    for a, b in image_chunks(node_off):
        if rel_off[a] == rel_off[b]:
            continue
        nodes_p, sizes = pad_images(bboxes, node_off, a, b)
        boxes_p, counts = pad_images(box, rel_off, a, b)
        hits = rects_intersect(boxes_p, nodes_p)  # (images, r_max, n_max)
        hits &= np.arange(hits.shape[1])[:, None] < counts[:, None, None]
        hits &= np.arange(hits.shape[2]) < sizes[:, None, None]
        # the edge's own ends never occlude it
        r = np.arange(rel_off[a], rel_off[b])
        c = img[r] - a
        k = r - rel_off[img[r]]
        hits[c, k, src[r] - node_off[img[r]]] = False
        hits[c, k, dst[r] - node_off[img[r]]] = False
        c, k, j = np.nonzero(hits)
        rows.append(rel_off[a + c] + k)
        nodes.append(node_off[a + c] + j)
    if not rows:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(rows), np.concatenate(nodes)


def _overlap(b, src, dst, img, node_off, axis):
    """Occlusion-corrected overlap along ``axis`` (0: x, 1: y) of every
    edge, normalized by the smaller side (:79-125, :127-156)."""
    o = 1 - axis
    b1, b2 = b[src], b[dst]
    lo = np.maximum(b1[:, axis], b2[:, axis])
    hi = np.minimum(b1[:, axis + 2], b2[:, axis + 2])
    # raw overlaps (:83-91), closed-int coordinates; raw overlap <= 0 stays
    # 0 and is not normalized
    raw = np.maximum(0, hi - lo)
    out = raw.astype(np.float64)
    rel = np.flatnonzero(raw > 0)
    if not rel.size:
        return out
    # occlusion box (:95-98, :127-130): the overlap along ``axis``, the
    # middle two of the four edges across it
    mid = np.sort(
        np.stack(
            [b1[rel, o], b2[rel, o], b1[rel, o + 2], b2[rel, o + 2]], axis=1
        ),
        axis=1,
    )
    box = np.empty((len(rel), 4), dtype=np.int64)
    box[:, axis], box[:, axis + 2] = lo[rel], hi[rel]
    box[:, o], box[:, o + 2] = mid[:, 1], mid[:, 2]
    occ_row, occ_node = _occluders(
        box, src[rel], dst[rel], img[rel], b, node_off
    )
    span = _surviving_span(
        lo[rel], hi[rel], occ_row, b[occ_node, axis], b[occ_node, axis + 2]
    )
    side = np.minimum(
        np.abs(b1[rel, axis + 2] - b1[rel, axis]),
        np.abs(b2[rel, axis + 2] - b2[rel, axis]),
    ).astype(np.float64)
    # normalization is unconditional in the reference (:121-122,
    # :155-156); a fully-occluded (empty) range gives 0 / side == 0
    out[rel] = span / side
    return out


def edge_features(
    edges: np.ndarray, bboxes: np.ndarray, img_w: int, img_h: int
) -> np.ndarray:
    """(E, 6) float32 edge input features."""
    b = np.asarray(bboxes, dtype=np.int64).reshape(-1, 4)
    return edge_features_many(
        np.asarray(edges, dtype=np.int64).reshape(-1, 2), b,
        [img_w], [img_h], np.array([0, len(b)]),
    )


def edge_features_many(
    edges: np.ndarray,
    bboxes: np.ndarray,
    widths,
    heights,
    node_off: np.ndarray,
) -> np.ndarray:
    """:func:`edge_features` of many images in array passes.

    ``bboxes``: (N, 4) int64, image ``i`` owning rows
    ``node_off[i]:node_off[i + 1]``, of size ``widths[i]`` ×
    ``heights[i]``; ``edges``: (E, 2) batch row ids, grouped by image in
    image order (as :func:`knn.knn_edges_many` returns them).
    """
    E = len(edges)
    if E == 0:
        return np.empty((0, 6), dtype=np.float32)

    b = bboxes
    c = bbox_centers(b)  # int centers
    src = edges[:, 0]
    dst = edges[:, 1]
    img = np.searchsorted(node_off, src, side="right") - 1
    img_w = np.asarray(widths, dtype=np.float64)[img]
    img_h = np.asarray(heights, dtype=np.float64)[img]

    c1 = c[src].astype(np.float64)
    c2 = c[dst].astype(np.float64)
    n1 = np.stack([c1[:, 0] / img_w, c1[:, 1] / img_h], axis=1)
    n2 = np.stack([c2[:, 0] / img_w, c2[:, 1] / img_h], axis=1)

    distance = np.linalg.norm(n1 - n2, axis=1)
    avg = (n1 + n2) / 2.0

    # orientation on raw int centers (:61-77)
    ci1 = c[src]
    ci2 = c[dst]
    n1_right = ci1[:, 0] > ci2[:, 0]
    right = np.where(n1_right[:, None], ci1, ci2).astype(np.float64)
    left = np.where(n1_right[:, None], ci2, ci1).astype(np.float64)
    x_dist = right[:, 0] - left[:, 0]
    y_dist = np.abs(right[:, 1] - left[:, 1])
    orientation = np.degrees(np.arctan(y_dist / (x_dist + _EPS)))
    flip = (right[:, 1] - left[:, 1]) > 0
    orientation = np.where(flip, 90.0 + (90.0 - orientation), orientation)
    orientation = np.where(
        (orientation < 5.0) | (orientation > 175.0), 180.0, orientation
    )

    feats = np.stack(
        [
            distance, avg[:, 0], avg[:, 1], orientation,
            _overlap(b, src, dst, img, node_off, 0),
            _overlap(b, src, dst, img, node_off, 1),
        ],
        axis=1,
    )
    return feats.astype(np.float32)


# --------------------------------------------------- J6 polygon visibility
# The reference defines polygons_see_each_other (geometry_graph_colorer
# .py:171-228) but never runs it: the call site is commented out (:159)
# and the feature is commented out of the edge vector (:164), and the
# inner split-bookkeeping branch is unreachable (split() returns either
# >= 2 or <= 1 geoms, so the `else` arm can't execute). This is a
# canonical respec over our bbox data model (node polygons ARE bbox
# corner rectangles, reference node.py:30-35):
#
#   edge (a, b) is "visible" iff no third node's bbox strictly cuts the
#   convex hull of a's and b's corners — i.e. overlaps the hull's
#   interior with positive area (SAT over the hull-edge normals plus the
#   two axis normals; touching boundaries don't cut, matching
#   shapely.split's behavior of not splitting on a tangent), with one
#   exception mirroring the reference's split() semantics: a bbox that
#   CONTAINS the whole hull leaves no boundary inside it and therefore
#   does not cut.
#
# The alphashape(α=0.5) hull of the reference degenerates to the convex
# hull for two disjoint axis-aligned rectangles' corner sets, which is
# the only shape the dead code could ever have received.


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; returns CCW hull vertices (k, 2)."""
    pts = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts

    def half(points):
        out: list = []
        for p in points:
            while (
                len(out) >= 2
                and (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                <= 0
            ):
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def _rect_cuts_hull(hull: np.ndarray, rect: np.ndarray) -> bool:
    """True iff the rect's boundary passes through the hull's interior:
    positive-area overlap (strict SAT) and the rect does not contain the
    entire hull."""
    x0, y0, x1, y1 = rect
    if (
        hull[:, 0].min() >= x0
        and hull[:, 0].max() <= x1
        and hull[:, 1].min() >= y0
        and hull[:, 1].max() <= y1
    ):
        return False  # rect swallows the hull: boundary never enters it
    corners = np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64
    )
    # axis-aligned separating axes (rect normals)
    if (
        hull[:, 0].max() <= x0
        or x1 <= hull[:, 0].min()
        or hull[:, 1].max() <= y0
        or y1 <= hull[:, 1].min()
    ):
        return False
    # hull-edge normals
    k = len(hull)
    for i in range(k):
        ex, ey = hull[(i + 1) % k] - hull[i]
        nx, ny = -ey, ex  # inward for CCW
        hp = hull @ (nx, ny)
        rp = corners @ (nx, ny)
        if rp.max() <= hp.min() or hp.max() <= rp.min():
            return False
    return True


def polygons_see_each_other(
    bboxes: np.ndarray, a: int, b: int
) -> bool:
    """J6 (canonical respec of reference dead code, see block comment):
    do nodes ``a`` and ``b`` see each other — is the convex hull of
    their corners uncut by every other node's bbox?"""
    bx = np.asarray(bboxes, dtype=np.float64)
    ca = bx[a]
    cb = bx[b]
    hull = _convex_hull(
        np.array(
            [
                [ca[0], ca[1]], [ca[2], ca[1]], [ca[2], ca[3]], [ca[0], ca[3]],
                [cb[0], cb[1]], [cb[2], cb[1]], [cb[2], cb[3]], [cb[0], cb[3]],
            ]
        )
    )
    for i in range(len(bx)):
        if i == a or i == b:
            continue
        if _rect_cuts_hull(hull, bx[i]):
            return False
    return True


def edge_visibility_features(
    bboxes: np.ndarray, edges: np.ndarray
) -> np.ndarray:
    """Per-edge J6 feature column (float32 0/1), the value the reference
    would have appended to the edge vector had :164 been uncommented.
    Not part of the default 6-feature vector — kept optional exactly as
    the reference keeps it disabled."""
    out = np.empty(len(edges), dtype=np.float32)
    for r, (s, d) in enumerate(np.asarray(edges)):
        out[r] = float(polygons_see_each_other(bboxes, int(s), int(d)))
    return out
