"""Node-visibility edge discovery (the reference's configured default,
config.ini:9) — canonical re-specification.

Reference algorithm (/root/reference/table_recognition/graph/
edge_discovery/node_visibility.py:12-196): render a label image (one id
per text-line bbox), cast rays from each node center every 10° over
0–180°, find the first foreign label on each side of the node along the
ray, bucket candidates by 30° angular bin over 0–360°, keep the nearest
candidate per bin, emit edges both directions.

The reference implementation is nondeterministic and lossy
(SURVEY.md §2.10.2-4): a 3-process split silently drops two nodes,
iteration order is Python-set order, the label render also scribbles
cv2.putText digits into the label plane, and equal-distance ties depend
on dict/sort internals. This module freezes the canonical spec instead:

- ALL nodes are processed, ordered by id; label rectangles are painted in
  ascending id order (later ids overwrite overlaps).
- No text is painted into the label image (the putText call in the
  reference is a debug artifact that corrupts labels).
- Rays: θ ∈ {0°,10°,…,180°}; the "right" side of ray θ marches in
  direction (sin θ, −cos θ) (for θ∈{0°,180°}: straight down, matching the
  reference's vertical special case); the "left" side is the opposite.
  Pixels are sampled at unit steps from the node center to the image
  border.
- On each side: own-id pixels are excised (skip the side if the node's
  own id never appears on it — overlap guard, reference :43-46); the
  first non-zero foreign label after the last own pixel is the candidate,
  at distance (step − last_own_step).
- Bin = θ_total // 30 with θ_total = θ for right, 180+θ for left
  (bins 0..12; θ=0 and θ=180 duplicate a vertical ray, preserved).
- Per bin keep min by (distance, θ_total, neighbour id) — the frozen
  total tie-break.
- Edges both directions, reflexive-filtered, output sorted by (src, dst).
"""

from __future__ import annotations

import numpy as np

from .bbox import bbox_centers

SAMPLING_RATE = 10  # degrees between rays (reference :14)
WINDOW_SIZE = 30  # angular bin width (reference :62,:69)


def _ray_steps(img_w: int, img_h: int) -> int:
    return int(np.ceil(np.hypot(img_w, img_h))) + 1


# Per-process reusable label plane. Allocating a fresh multi-MB zeroed
# plane per image costs an mmap + kernel page-zeroing per call, which
# contends across 16+ concurrent executor processes; instead one buffer
# grows to the largest image seen and only the rectangles painted by the
# PREVIOUS image are cleared (sum of rect areas ≪ plane area). int16 is
# enough for any realistic line count and halves gather traffic; pages
# with ≥ 32767 lines fall back to an int32 plane (wrap would silently
# corrupt labels).
_BUF: dict = {"plane": None, "dirty": None}


def _render_into_buffer(b: np.ndarray, img_w: int, img_h: int) -> np.ndarray:
    dtype = np.int16 if len(b) < 32767 else np.int32
    plane = _BUF["plane"]
    if (
        plane is None
        or plane.shape[0] < img_h
        or plane.shape[1] < img_w
        or plane.dtype != dtype
    ):
        h = max(img_h, plane.shape[0] if plane is not None else 0)
        w = max(img_w, plane.shape[1] if plane is not None else 0)
        plane = np.zeros((h, w), dtype=dtype)
        _BUF["plane"] = plane
        _BUF["dirty"] = None
    dirty = _BUF["dirty"]
    if dirty is not None:
        for x0, y0, x1, y1 in dirty:
            plane[y0:y1, x0:x1] = 0
    rects = []
    for i in range(len(b)):
        x0, y0, x1, y1 = b[i]
        x0, y0 = max(int(x0), 0), max(int(y0), 0)
        x1, y1 = max(int(x1), 0), max(int(y1), 0)
        plane[y0:y1, x0:x1] = i + 1
        rects.append((x0, y0, x1, y1))
    _BUF["dirty"] = rects
    return plane


def visibility_edges(
    bboxes: np.ndarray, img_w: int, img_h: int
) -> np.ndarray:
    """Discover directed edges; returns int64 (E, 2) sorted by (src, dst).

    Result-identical to the direct full-march transcription of the
    frozen spec (the equality oracle in tests/test_visibility.py) but with ~5-10× less memory traffic — the full-march version builds
    (n, diag)-sized temporaries 38 times per image, which saturates the
    shared L3/DRAM at 16+ concurrent executor workers (measured: 0.86
    multiprocessing scaling efficiency 4→16 workers, dominated by this
    kernel). Two exact transformations (pixel sampling itself is kept
    bit-identical — ``rint(c ± d·t)`` per node; NOT decomposed into
    ``c ± rint(d·t)``, which differs at half-integer ties depending on
    the parity of c):

    - own-label pixels only exist while the sampled point lies inside the
      node's own bbox, and a straight ray leaves that (convex) box once:
      ``last_own``/``has_own`` are fully determined within a per-angle
      window of ``max_i min((dx_i+1)/|d0|, (dy_i+1)/|d1|)`` steps.
    - past that window the first foreign hit is simply the first non-zero
      in-bounds pixel, found with an active-set chunked march that drops
      rays as they hit or exit the image (a ray that leaves the convex
      image rectangle never re-enters).
    """
    n = len(bboxes)
    if n <= 1:
        return np.empty((0, 2), dtype=np.int64)

    b = np.asarray(bboxes, dtype=np.int64)
    labels = _render_into_buffer(b, img_w, img_h)
    stride = labels.shape[1]
    flat_labels = labels.ravel()
    centers = bbox_centers(bboxes).astype(np.int64)  # (n, 2) int
    T = _ray_steps(img_w, img_h)
    # chebyshev half-extents of each bbox around its center (for the
    # per-angle own-window bound)
    ext_x = np.maximum(
        np.abs(b[:, 0] - centers[:, 0]), np.abs(b[:, 2] - centers[:, 0])
    )
    ext_y = np.maximum(
        np.abs(b[:, 1] - centers[:, 1]), np.abs(b[:, 3] - centers[:, 1])
    )

    # phase-B chunk: most rays hit a neighbor within ~100 px, so small
    # chunks let the active set collapse after 1-2 iterations; only
    # border-exiting rays march further
    CHUNK = 128
    node_ids = np.arange(1, n + 1, dtype=labels.dtype)
    cx = centers[:, 0]
    cy = centers[:, 1]
    t_all = np.arange(T, dtype=np.float64)

    # ---- segment table: one segment per (theta, side), ragged widths ----
    seg_dx, seg_dy, seg_tt, seg_W = [], [], [], []
    for theta in range(0, 181, SAMPLING_RATE):
        if theta in (0, 180):
            d0, d1 = 0.0, 1.0
        else:
            rad = np.radians(float(theta))
            d0, d1 = float(np.sin(rad)), float(-np.cos(rad))
        # own pixels require |rint(d0·t)| ≤ ext_x + 0.5 AND
        # |rint(d1·t)| ≤ ext_y + 0.5 → per-node t bound, take the max.
        # (+2 slack covers the rint ±0.5 and the ceil.)
        bound_x = (
            (ext_x + 1.0) / abs(d0) if abs(d0) > 1e-12 else np.full(n, np.inf)
        )
        bound_y = (
            (ext_y + 1.0) / abs(d1) if abs(d1) > 1e-12 else np.full(n, np.inf)
        )
        W = int(min(T, int(np.ceil(np.minimum(bound_x, bound_y).max())) + 2))
        for sign, theta_total in ((1, theta), (-1, 180 + theta)):
            # original evaluates sign*d[0]*t left-to-right: (sign*d0)*t —
            # precompute the scalar so the per-element product is identical
            seg_dx.append(sign * d0)
            seg_dy.append(sign * d1)
            seg_tt.append(theta_total)
            seg_W.append(W)

    seg_dx = np.array(seg_dx)
    seg_dy = np.array(seg_dy)
    seg_tt = np.array(seg_tt, dtype=np.int64)
    seg_W = np.array(seg_W, dtype=np.int64)
    S = len(seg_W)
    starts = np.zeros(S, dtype=np.int64)
    np.cumsum(seg_W[:-1], out=starts[1:])
    M = int(seg_W.sum())

    # flat per-element tables over all segments (M,)
    t_loc = np.concatenate([np.arange(w_, dtype=np.int64) for w_ in seg_W])
    off_x = np.concatenate(
        [seg_dx[s] * t_all[: seg_W[s]] for s in range(S)]
    )
    off_y = np.concatenate(
        [seg_dy[s] * t_all[: seg_W[s]] for s in range(S)]
    )
    seg_id = np.repeat(np.arange(S), seg_W)

    # ---- phase A: all own windows, node-chunked (c, M) batches ----
    # int32 coordinates/steps (not int64): phase A is memory-bandwidth
    # bound at 16+ concurrent workers, so narrower temporaries directly
    # buy multi-worker scaling; flat plane indices fit int32 for any
    # plane smaller than 2^31 px (guarded). The node-axis chunking
    # bounds peak temporaries when a full-page bbox drives the
    # own-window sum M toward 38·diag (the r2-advice OOM cliff) — for
    # realistic pages n·M ≪ the budget and there is exactly one chunk.
    BIG = T + 1
    idx_dtype = np.int32 if stride * max(img_h, 1) < 2**31 else np.int64
    t_loc32 = t_loc.astype(np.int32)
    ends = starts + seg_W - 1
    has_own = np.empty((n, S), dtype=bool)
    last_own = np.empty((n, S), dtype=np.int64)
    first_hit = np.empty((n, S), dtype=np.int64)
    hit_nbr = np.empty((n, S), dtype=np.int64)
    inside_ends = np.empty((n, S), dtype=bool)

    ch = max(1, min(n, int(16_000_000 // max(M, 1))))
    for c0 in range(0, n, ch):
        sl = slice(c0, min(n, c0 + ch))
        fx = cx[sl, None] + off_x[None, :]
        np.rint(fx, out=fx)
        xs = fx.astype(idx_dtype)
        fy = cy[sl, None] + off_y[None, :]
        np.rint(fy, out=fy)
        ys = fy.astype(idx_dtype)
        del fx, fy
        # unsigned view: one compare per axis (negatives wrap to huge)
        u = np.uint32 if idx_dtype == np.int32 else np.uint64
        inside = (xs.view(u) < img_w) & (ys.view(u) < img_h)
        ys *= stride
        ys += xs  # in-place flat index
        vals = np.zeros(xs.shape, dtype=labels.dtype)
        vals[inside] = flat_labels[ys[inside]]
        del xs, ys
        own = vals == node_ids[sl, None]
        ho = np.logical_or.reduceat(own, starts, axis=1)  # (c, S)
        own_t = np.where(own, t_loc32[None, :], -1)
        lo_t = np.where(ho, np.maximum.reduceat(own_t, starts, axis=1), 0)
        after = t_loc32[None, :] > lo_t[:, seg_id]
        cand = after & inside & (vals > 0) & ~own
        cand_t = np.where(cand, t_loc32[None, :], BIG)
        fh = np.minimum.reduceat(cand_t, starts, axis=1)  # (c, S)
        cols = starts[None, :] + np.where(fh < BIG, fh, 0)
        has_own[sl] = ho
        last_own[sl] = lo_t
        first_hit[sl] = fh
        hit_nbr[sl] = (
            np.take_along_axis(vals, cols, axis=1).astype(np.int64) - 1
        )
        inside_ends[sl] = inside[:, ends]

    has_hit = first_hit < BIG
    hit_t = np.where(has_hit, first_hit, 0)
    found = has_own & has_hit

    # rays still needing a hit, and still inside the image at the
    # window's last step (a ray that left the convex image never returns)
    alive = has_own & ~has_hit & inside_ends

    # ---- phase B: one chunked march over ALL alive (node, segment) rays ----
    pi, ps = np.nonzero(alive)
    P = len(pi)
    if P:
        pdx = seg_dx[ps]
        pdy = seg_dy[ps]
        pcx = cx[pi]
        pcy = cy[pi]
        cur = seg_W[ps].copy()
        got = np.zeros(P, dtype=bool)
        marching = cur < T
        res_t = np.zeros(P, dtype=np.int64)
        res_nbr = np.zeros(P, dtype=np.int64)
        carange = np.arange(CHUNK, dtype=np.int64)

        # Analytic skip: a sampled pixel rint(c + d·t) can only land in
        # rect [x0,x1)×[y0,y1) while the CONTINUOUS point is inside the
        # rect expanded by 1 px on every side (rint moves a point by at
        # most 0.5). Slab-intersect every ray with every expanded rect to
        # find the next t at which any rect coverage is possible, and jump
        # the march there — the gap in between is provably all-zero.
        ex0 = (b[:, 0] - 1).astype(np.float64)
        ex1 = (b[:, 2] + 1).astype(np.float64)
        ey0 = (b[:, 1] - 1).astype(np.float64)
        ey1 = (b[:, 3] + 1).astype(np.float64)

        def _next_entry(act):
            """For each active ray, min over rects of the earliest t ≥ cur
            at which the expanded rect could cover a sample (inf if none)."""
            with np.errstate(divide="ignore", invalid="ignore"):
                # (A, n) slab times per axis
                dx = pdx[act, None]
                dy = pdy[act, None]
                t1x = (ex0[None, :] - pcx[act, None]) / dx
                t2x = (ex1[None, :] - pcx[act, None]) / dx
                tx_in = np.minimum(t1x, t2x)
                tx_out = np.maximum(t1x, t2x)
                # dx == 0: covered iff cx inside the expanded slab
                zx = np.abs(dx) < 1e-12
                in_x = (pcx[act, None] >= ex0[None, :]) & (
                    pcx[act, None] <= ex1[None, :]
                )
                tx_in = np.where(zx, np.where(in_x, -np.inf, np.inf), tx_in)
                tx_out = np.where(zx, np.where(in_x, np.inf, -np.inf), tx_out)
                t1y = (ey0[None, :] - pcy[act, None]) / dy
                t2y = (ey1[None, :] - pcy[act, None]) / dy
                ty_in = np.minimum(t1y, t2y)
                ty_out = np.maximum(t1y, t2y)
                zy = np.abs(dy) < 1e-12
                in_y = (pcy[act, None] >= ey0[None, :]) & (
                    pcy[act, None] <= ey1[None, :]
                )
                ty_in = np.where(zy, np.where(in_y, -np.inf, np.inf), ty_in)
                ty_out = np.where(zy, np.where(in_y, np.inf, -np.inf), ty_out)
            t_in = np.maximum(tx_in, ty_in)
            t_out = np.minimum(tx_out, ty_out)
            c = cur[act, None].astype(np.float64)
            entry = np.where(
                (t_in <= t_out) & (t_out >= c), np.maximum(t_in, c), np.inf
            )
            return entry.min(axis=1)

        while True:
            act = np.flatnonzero(marching)
            if len(act) == 0:
                break
            # jump past provably-empty stretches (floor - 1 safety margin)
            entry = _next_entry(act)
            no_rect = ~np.isfinite(entry)
            marching[act[no_rect]] = False
            act = act[~no_rect]
            if len(act) == 0:
                break
            jump = np.floor(entry[~no_rect]).astype(np.int64) - 1
            cur[act] = np.maximum(cur[act], jump)
            ttl = cur[act, None] + carange[None, :]
            ttf = ttl.astype(np.float64)
            bxs = np.rint(pcx[act, None] + pdx[act, None] * ttf).astype(
                np.int64
            )
            bys = np.rint(pcy[act, None] + pdy[act, None] * ttf).astype(
                np.int64
            )
            cin = (
                (ttl < T)
                & (bxs >= 0)
                & (bxs < img_w)
                & (bys >= 0)
                & (bys < img_h)
            )
            cvals = np.zeros(bxs.shape, dtype=labels.dtype)
            cvals[cin] = flat_labels[bys[cin] * stride + bxs[cin]]
            # own impossible here (t > own window) and t > last_own:
            # first in-bounds non-zero pixel is the hit
            chit = cin & (cvals > 0)
            chas = chit.any(axis=1)
            cfirst = np.argmax(chit, axis=1)
            rows = act[chas]
            res_t[rows] = ttl[chas, cfirst[chas]]
            res_nbr[rows] = cvals[chas, cfirst[chas]].astype(np.int64) - 1
            got[rows] = True
            marching[rows] = False
            # rays whose last chunk sample fell outside the image (or past
            # T) and had no hit are exhausted
            marching[act[~chas & ~cin[:, -1]]] = False
            cur[act] += CHUNK

        gi, gs = pi[got], ps[got]
        found[gi, gs] = True
        hit_t[gi, gs] = res_t[got]
        hit_nbr[gi, gs] = res_nbr[got]

    # ---- candidate selection: min (dist, theta_total, nbr) per (i, bin) ----
    fi, fs = np.nonzero(found)
    if len(fi) == 0:
        return np.empty((0, 2), dtype=np.int64)
    nb = hit_nbr[fi, fs]
    keep = nb != fi
    fi, fs, nb = fi[keep], fs[keep], nb[keep]
    if len(fi) == 0:
        return np.empty((0, 2), dtype=np.int64)
    dist = hit_t[fi, fs] - last_own[fi, fs]
    tt = seg_tt[fs]
    group = fi * 16 + (tt // WINDOW_SIZE)  # bins 0..12 < 16
    order = np.lexsort((nb, tt, dist, group))
    g_sorted = group[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = g_sorted[1:] != g_sorted[:-1]
    sel = order[first]
    src, dst = fi[sel], nb[sel]
    edges = np.concatenate(
        [np.stack([src, dst], axis=1), np.stack([dst, src], axis=1)]
    ).astype(np.int64)
    edges = edges[edges[:, 0] != edges[:, 1]]
    if len(edges) == 0:
        return np.empty((0, 2), dtype=np.int64)
    return np.unique(edges, axis=0)
