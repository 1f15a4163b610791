"""Cell-text assembly — required by the north star, ABSENT in the reference
(it never reads OCR text content, SURVEY.md §2.11). Canonical spec, frozen
here:

1. Take the undirected graph of edges predicted class 0 ("cell").
2. Connected components = text lines belonging to one table cell.
3. Component text = member line texts joined by "\\n" in
   (ymin, xmin, line_id) order.
4. Components ordered by (ymin, xmin, min line_id) of the component bbox;
   emitted in that order as the cell list.
"""

from __future__ import annotations

import numpy as np

from .gnn import EDGE_CLASS_CELL


def _components(n: int, pairs: np.ndarray) -> np.ndarray:
    """Connected components of ``n`` nodes under undirected ``pairs``, by
    min-label propagation with pointer jumping: each node's label ends as
    the smallest node id of its component."""
    label = np.arange(n, dtype=np.int64)
    if not len(pairs):
        return label
    s, d = pairs[:, 0], pairs[:, 1]
    while True:
        new = label.copy()
        m = np.minimum(label[s], label[d])
        np.minimum.at(new, s, m)
        np.minimum.at(new, d, m)
        new = new[new]
        if np.array_equal(new, label):
            return label
        label = new


def assemble_cells(
    edge_index: np.ndarray,
    edge_cls: np.ndarray,
    bboxes: np.ndarray,
    texts: list,
) -> list:
    """Returns ordered list of cell text strings.

    ``edge_index``: (E, 2); ``edge_cls``: (E,) predicted classes;
    ``bboxes``: (n, 4); ``texts``: n line strings (line_id == row index).
    Isolated lines form singleton cells.
    """
    return assemble_cells_many(
        np.asarray(edge_index).reshape(-1, 2), np.asarray(edge_cls),
        np.asarray(bboxes).reshape(-1, 4), texts,
        np.array([0, len(bboxes)]),
    )[1]


def assemble_cells_many(
    edge_index: np.ndarray,
    edge_cls: np.ndarray,
    bboxes: np.ndarray,
    texts,
    node_off: np.ndarray,
):
    """:func:`assemble_cells` of many images in array passes.

    Image ``i`` owns rows ``node_off[i]:node_off[i + 1]`` of ``bboxes``
    and ``texts`` (a sequence of N strings); ``edge_index`` holds batch
    rows. Returns ``(cell_img, cells)``: every image's cells in order,
    image after image, with ``cell_img[c]`` the image of ``cells[c]``.
    """
    n = len(bboxes)
    if n == 0:
        return np.empty(0, dtype=np.int64), []
    comp = _components(n, edge_index[edge_cls == EDGE_CLASS_CELL])
    img = np.repeat(np.arange(len(node_off) - 1), np.diff(node_off))
    b = np.asarray(bboxes, dtype=np.int64)
    ymin = np.full(n, np.iinfo(np.int64).max)
    xmin = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(ymin, comp, b[:, 1])
    np.minimum.at(xmin, comp, b[:, 0])
    # components by (ymin, xmin, min line id) of the component bbox, and
    # lines within one by (ymin, xmin, line id); a component's label is
    # its min line id
    order = np.lexsort((
        np.arange(n), b[:, 0], b[:, 1], comp, xmin[comp], ymin[comp], img,
    ))
    comp = comp[order]
    starts = np.flatnonzero(np.r_[True, comp[1:] != comp[:-1]])
    # a null line text is "", as the PAGE-XML readers read a missing
    # TextEquiv
    lines = [
        "" if t is None else t
        for t in np.asarray(texts, dtype=object)[order].tolist()
    ]
    bounds = np.r_[starts, n].tolist()
    cells = [
        "\n".join(lines[s:e]) for s, e in zip(bounds[:-1], bounds[1:])
    ]
    return img[order][starts], cells
