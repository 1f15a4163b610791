"""k-NN edge discovery over text-line bounding boxes.

Canonical re-specification of the reference's R-tree k-NN join
(/root/reference/table_recognition/graph/edge_discovery/k_nearest_neighbors.py:6-33):

- each node queries its K=4 nearest boxes by rectangle min-distance; the
  node itself is among the results (distance 0) and is removed by the
  reflexive filter, leaving ≈3 net neighbours (SURVEY.md §2.10.1);
- edges are added in BOTH directions and deduplicated on (src, dst);
- ties at equal distance are rtree-insertion-order-dependent in the
  reference (nondeterministic); our frozen canonical rule is
  **(distance, neighbour id) ascending** — decided once, here.
- the reference's edge-set iteration order is a Python set order
  (nondeterministic, SURVEY.md §2.10.4); our canonical output order is
  **sorted by (src, dst)**.
"""

from __future__ import annotations

import numpy as np

from .bbox import image_chunks, pad_images, rect_min_distance

K_NEIGHBORS = 4  # reference k_nearest_neighbors.py:7


def knn_edges(bboxes: np.ndarray, k: int = K_NEIGHBORS) -> np.ndarray:
    """Discover directed edges; returns int64 (E, 2) sorted by (src, dst).

    ``bboxes``: (n, 4) int array. Node ids are row indices (the reference's
    NODE_COUNTER assigns ids in document order, node.py:9-10, and our
    fixtures emit ocr_lines in that same order).
    """
    b = np.asarray(bboxes, dtype=np.int64).reshape(-1, 4)
    return knn_edges_many(b, np.array([0, len(b)]), k)


def knn_edges_many(
    bboxes: np.ndarray, node_off: np.ndarray, k: int = K_NEIGHBORS
) -> np.ndarray:
    """:func:`knn_edges` of many images in array passes.

    ``bboxes``: (N, 4) int64, image ``i`` owning rows
    ``node_off[i]:node_off[i + 1]``. Returns (E, 2) int64 edges in batch
    row ids, sorted by (src, dst): image by image, each image's edges in
    its own canonical order. Each chunk of images is padded to
    ``(images, n_max, n_max)`` distances with ``+inf`` for the padding
    columns, so a stable sort along the last axis — (distance, neighbour
    id) order — puts every real neighbour first.
    """
    n_all = int(node_off[-1])
    keys = []
    for a, b in image_chunks(node_off):
        boxes, sizes = pad_images(bboxes, node_off, a, b)
        m = boxes.shape[1]
        if m == 0:
            continue
        cols = np.arange(m)
        dist = rect_min_distance(boxes, boxes)  # (images, m, m)
        dist[np.broadcast_to(cols >= sizes[:, None, None], dist.shape)] = (
            np.inf
        )
        kk = min(k, m)
        nearest = np.argsort(dist, axis=-1, kind="stable")[..., :kk]
        # real source rows, and the first min(k, n) columns of each
        keep = (cols[:, None] < sizes[:, None, None]) & (
            np.arange(kk) < sizes[:, None, None]
        )
        base = node_off[a:b, None, None]
        src = np.broadcast_to(base + cols[:, None], keep.shape)[keep]
        dst = (base + nearest)[keep]
        # both directions (k_nearest_neighbors.py:22-25), reflexive filter
        # (:28)
        ne = src != dst
        src, dst = src[ne], dst[ne]
        keys += [src * n_all + dst, dst * n_all + src]
    if not keys:
        return np.empty((0, 2), dtype=np.int64)
    # dedup + canonical (src, dst) order
    key = np.unique(np.concatenate(keys))
    return np.stack([key // n_all, key % n_all], axis=1)
