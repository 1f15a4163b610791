"""Test oracles: the direct implementations the package's fast paths
replaced, kept to pin result equality, and the Spark-vs-DuckDB
comparison harness that mirrors the driver's correctness gate.
"""

from __future__ import annotations

import itertools

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from table_recognition_spark.core.bbox import (
    bbox_centers,
    rect_min_distance,
    rects_intersect,
)
from table_recognition_spark.core.boilerplate import BOILER_TAGS
from table_recognition_spark.core.gnn import (
    EDGE_CLASS_CELL,
    LAYER_SPECS,
    _log_softmax,
    _scatter_mean,
)
from table_recognition_spark.core.visibility import (
    SAMPLING_RATE,
    WINDOW_SIZE,
    _ray_steps,
)
from table_recognition_spark.operators.common import tokens
from table_recognition_spark.operators.dedup import N_MINHASH, _shingles
from table_recognition_spark.oracle.extract import run_kernel_batch


# ------------------------------------------- Spark vs DuckDB comparison
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).fetchdf()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )
    return out


def compare(spark_df, oracle_sql: str, sf_dir: str):
    """Returns (ok, detail) with row-count / column / value comparison."""
    got = canonicalize(spark_df.toPandas())
    exp = canonicalize(run_oracle(oracle_sql, sf_dir))
    if list(got.columns) != list(exp.columns):
        return False, f"columns differ: {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"row count differs: {len(got)} vs {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        # Strict dtype-kind parity mirrors the driver's value hash: int64
        # 50662700 and float64 50662700.0 hash differently there (DuckDB
        # sum -> HUGEINT -> float64 was the round-1 failure mode), so an
        # int-vs-float pairing must fail here too.
        a_num = pd.api.types.is_numeric_dtype(a)
        b_num = pd.api.types.is_numeric_dtype(b)
        if a_num and b_num and (
            pd.api.types.is_float_dtype(a) != pd.api.types.is_float_dtype(b)
        ):
            return (
                False,
                f"dtype kind mismatch in column {c}: {a.dtype} vs {b.dtype} "
                "(driver hash distinguishes int from float)",
            )
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            eq = (
                a.astype(float).fillna(-1e308).values
                == b.astype(float).fillna(-1e308).values
            ).all()
        else:
            try:
                eq = (a.values == b.values).all()
            except Exception:
                eq = a.astype(str).equals(b.astype(str))
        if not eq:
            mism = (a.astype(str) != b.astype(str)).idxmax()
            return (
                False,
                f"value mismatch in column {c} (first at row {mism}: "
                f"{a[mism]!r} vs {b[mism]!r})",
            )
    return True, f"{len(got)} rows equal"


# ---------------------------------------------- extraction output
def span_tuples(spans) -> list:
    """(kind, text, media_ref, offset) of each span, in the given order."""
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def spans_by_doc(flat_df) -> dict:
    """``extract_flat`` rows → {doc_id: span tuples in offset order}: the
    shape of ``oracle.extract_corpus``'s result under :func:`span_tuples`."""
    by_doc = {}
    for r in sorted(flat_df.collect(), key=lambda r: (r["doc_id"], r["offset"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    return {did: span_tuples(rows) for did, rows in by_doc.items()}


# --------------------------------------------------- boilerplate
def duckdb_strip_sql(expr: str) -> str:
    """The boilerplate strip as DuckDB SQL.

    RE2 does not support backreferences, so the block pattern is expanded
    per tag (semantically identical on non-nested input).
    """
    t = expr
    for tag in BOILER_TAGS.split("|"):
        t = (
            f"regexp_replace({t}, '(?is)<{tag}\\b[^>]*>.*?</{tag}\\s*>', ' ', 'g')"
        )
    t = f"regexp_replace({t}, '(?s)<[^>]*>', ' ', 'g')"
    t = f"regexp_replace({t}, '\\s+', ' ', 'g')"
    return f"trim({t})"


# --------------------------------------------------------- dedup
def shingle_df_hof(docs, n: int = 3):
    """The Catalyst-HOF shingle builder (round-2 implementation), the
    equality oracle for the batch UDF ``dedup._shingle_df``. The
    repartition barrier pins evaluation order: regex once per row →
    shuffle → slice/concat once per shingle (CollapseProject would
    otherwise re-run the regex per shingle index)."""
    P = docs.sparkSession.sparkContext.defaultParallelism
    tok_df = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).repartition(P)
    return tok_df.select(
        "doc_id",
        F.array_distinct(_shingles(F.col("toks"), n)).alias("shingles"),
    )


def minhash_sig_expr(shingles_col):
    """The Catalyst-HOF minhash signature tree (round-2..4
    implementation): sig[h] = array_min(transform(shingles,
    t -> md5(h || ':' || t))) for h in 0..N_MINHASH-1; the equality
    oracle for the fused UDF ``dedup._shingle_sig_df``."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_MINHASH - 1)),
        lambda h: F.array_min(
            F.transform(
                shingles_col,
                lambda t: F.md5(F.concat(h.cast("string"), F.lit(":"), t)),
            )
        ),
    )


# ---------------------------------------------------- similarity
def hof_dot(a, b):
    """Integer dot product as a Catalyst HOF chain; the equality oracle
    for ``similarity._dot_pandas``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------- visibility
def render_label_image(bboxes: np.ndarray, img_w: int, img_h: int) -> np.ndarray:
    """(h, w) int32 label plane; pixel value = node id + 1, 0 = empty.
    Rectangles painted in ascending id order; the reference paints
    [min_y:max_y, min_x:max_x] (exclusive upper edge) — preserved."""
    img = np.zeros((img_h, img_w), dtype=np.int32)
    b = np.asarray(bboxes, dtype=np.int64)
    for i in range(len(b)):
        x0, y0, x1, y1 = b[i]
        img[max(y0, 0) : max(y1, 0), max(x0, 0) : max(x1, 0)] = i + 1
    return img


def visibility_edges_full_march(
    bboxes: np.ndarray, img_w: int, img_h: int
) -> np.ndarray:
    """Direct transcription of the frozen spec (round-1 implementation):
    full-diagonal march for every node and angle; the equality oracle for
    ``visibility.visibility_edges``."""
    n = len(bboxes)
    if n <= 1:
        return np.empty((0, 2), dtype=np.int64)

    labels = render_label_image(bboxes, img_w, img_h)
    centers = bbox_centers(bboxes)  # (n, 2) int
    T = _ray_steps(img_w, img_h)
    t = np.arange(T, dtype=np.float64)  # includes t=0 (the center pixel)

    # best[node][bin] = (dist, theta_total, nbr)
    best: list = [dict() for _ in range(n)]

    for theta in range(0, 181, SAMPLING_RATE):
        if theta in (0, 180):
            d = np.array([0.0, 1.0])
        else:
            rad = np.radians(float(theta))
            d = np.array([np.sin(rad), -np.cos(rad)])
        for side, (sign, theta_total) in enumerate(
            [(1.0, theta), (-1.0, 180 + theta)]
        ):
            # all nodes' ray pixels at once: (n, T)
            xs = np.rint(centers[:, 0, None] + sign * d[0] * t).astype(np.int64)
            ys = np.rint(centers[:, 1, None] + sign * d[1] * t).astype(np.int64)
            inside = (xs >= 0) & (xs < img_w) & (ys >= 0) & (ys < img_h)
            vals = np.zeros((n, T), dtype=np.int32)
            vals[inside] = labels[ys[inside], xs[inside]]

            own = vals == (np.arange(1, n + 1, dtype=np.int32)[:, None])
            has_own = own.any(axis=1)
            # last own step per node (0 where none — masked by has_own)
            last_own = np.where(
                has_own, T - 1 - np.argmax(own[:, ::-1], axis=1), 0
            )
            # foreign hit: first non-zero, non-own pixel after last_own
            after = np.arange(T)[None, :] > last_own[:, None]
            cand = after & inside & (vals > 0) & ~own
            has_hit = cand.any(axis=1)
            first_hit = np.argmax(cand, axis=1)

            ok = has_own & has_hit
            for i in np.flatnonzero(ok):
                hit_t = int(first_hit[i])
                nbr = int(vals[i, hit_t]) - 1
                if nbr == i:
                    continue
                dist = hit_t - int(last_own[i])
                key = theta_total // WINDOW_SIZE
                cur = best[i].get(key)
                cand_tuple = (dist, theta_total, nbr)
                if cur is None or cand_tuple < cur:
                    best[i][key] = cand_tuple

    pairs = []
    for i in range(n):
        for _, (_, _, nbr) in sorted(best[i].items()):
            pairs.append((i, nbr))
            pairs.append((nbr, i))
    if not pairs:
        return np.empty((0, 2), dtype=np.int64)
    edges = np.array(pairs, dtype=np.int64)
    edges = edges[edges[:, 0] != edges[:, 1]]
    return np.unique(edges, axis=0)


# ------------------------------------------- table-recognition kernel
# The per-image kernel that the many-image array passes replaced: the
# bitwise reference for knn.knn_edges_many, geometry.edge_features_many,
# gnn.forward_many and assemble.assemble_cells_many.
def knn_edges_per_image(bboxes: np.ndarray, k: int = 4) -> np.ndarray:
    n = len(bboxes)
    if n == 0:
        return np.empty((0, 2), dtype=np.int64)
    dist = rect_min_distance(bboxes, bboxes)
    kk = min(k, n)
    ids = np.arange(n, dtype=np.int64)
    order = np.lexsort((np.broadcast_to(ids, (n, n)), dist), axis=1)
    nearest = order[:, :kk]
    src = np.repeat(ids, kk)
    dst = nearest.reshape(-1)
    edges = np.concatenate(
        [np.stack([src, dst], axis=1), np.stack([dst, src], axis=1)], axis=0
    )
    edges = edges[edges[:, 0] != edges[:, 1]]
    return np.unique(edges, axis=0)


def corrected_overlap_loop(lo, hi, occ_lo, occ_hi):
    """Start with the closed integer range [lo, hi]; subtract each
    occluder's closed range; return (last - first) of what survives,
    else 0 (geometry_graph_colorer.py:107-120)."""
    width = hi - lo + 1
    mask = np.ones(width, dtype=bool)
    for a, b in zip(occ_lo, occ_hi):
        s = max(int(a), lo) - lo
        e = min(int(b), hi) - lo
        if e >= s:
            mask[s : e + 1] = False
    idx = np.flatnonzero(mask)
    if idx.size == 0:
        return 0.0
    return float(idx[-1] - idx[0])


def edge_features_per_image(
    edges: np.ndarray, bboxes: np.ndarray, img_w: int, img_h: int
) -> np.ndarray:
    eps = float(np.finfo(np.float64).eps)
    E = len(edges)
    if E == 0:
        return np.empty((0, 6), dtype=np.float32)
    b = np.asarray(bboxes, dtype=np.int64)
    c = bbox_centers(b)
    src = edges[:, 0]
    dst = edges[:, 1]
    c1 = c[src].astype(np.float64)
    c2 = c[dst].astype(np.float64)
    n1 = np.stack([c1[:, 0] / img_w, c1[:, 1] / img_h], axis=1)
    n2 = np.stack([c2[:, 0] / img_w, c2[:, 1] / img_h], axis=1)
    distance = np.linalg.norm(n1 - n2, axis=1)
    avg = (n1 + n2) / 2.0
    ci1 = c[src]
    ci2 = c[dst]
    n1_right = ci1[:, 0] > ci2[:, 0]
    right = np.where(n1_right[:, None], ci1, ci2).astype(np.float64)
    left = np.where(n1_right[:, None], ci2, ci1).astype(np.float64)
    x_dist = right[:, 0] - left[:, 0]
    y_dist = np.abs(right[:, 1] - left[:, 1])
    orientation = np.degrees(np.arctan(y_dist / (x_dist + eps)))
    flip = (right[:, 1] - left[:, 1]) > 0
    orientation = np.where(flip, 90.0 + (90.0 - orientation), orientation)
    orientation = np.where(
        (orientation < 5.0) | (orientation > 175.0), 180.0, orientation
    )
    b1 = b[src]
    b2 = b[dst]
    overlaps = []
    for axis in (0, 1):
        o = 1 - axis
        lo = np.maximum(b1[:, axis], b2[:, axis])
        hi = np.minimum(b1[:, axis + 2], b2[:, axis + 2])
        raw = np.maximum(0, hi - lo)
        out = raw.astype(np.float64)
        side = np.minimum(
            np.abs(b1[:, axis + 2] - b1[:, axis]),
            np.abs(b2[:, axis + 2] - b2[:, axis]),
        ).astype(np.float64)
        for e in np.flatnonzero(raw > 0):
            mid = np.sort([b1[e, o], b2[e, o], b1[e, o + 2], b2[e, o + 2]])
            box = np.empty(4, dtype=np.int64)
            box[axis], box[axis + 2] = lo[e], hi[e]
            box[o], box[o + 2] = mid[1], mid[2]
            hits = rects_intersect(box[None], b)[0]
            hits[src[e]] = hits[dst[e]] = False
            occ = np.flatnonzero(hits)
            if occ.size:
                ov = corrected_overlap_loop(
                    int(lo[e]), int(hi[e]), b[occ, axis], b[occ, axis + 2]
                )
            else:
                ov = float(hi[e] - lo[e])
            out[e] = ov / side[e]
        overlaps.append(out)
    feats = np.stack(
        [distance, avg[:, 0], avg[:, 1], orientation, *overlaps], axis=1
    )
    return feats.astype(np.float32)


def _mlp2_ref(w, prefix, x):
    h = x @ w[prefix + ".0.w"] + w[prefix + ".0.b"]
    np.maximum(h, 0.0, out=h)
    return h @ w[prefix + ".1.w"] + w[prefix + ".1.b"]


def gnn_forward_per_image(x, edge_index, edge_attr, weights):
    """One image's G2 forward, one plain GEMM per Linear."""
    x = np.asarray(x, dtype=np.float32)
    e = np.asarray(edge_attr, dtype=np.float32)
    row = edge_index[:, 0] if edge_index.size else np.empty(0, np.int64)
    col = edge_index[:, 1] if edge_index.size else np.empty(0, np.int64)
    n = len(x)
    for i, (*_, residual) in enumerate(LAYER_SPECS, 1):
        e_new = _mlp2_ref(
            weights, f"l{i}.edge", np.concatenate([x[row], x[col], e], axis=1)
        )
        if residual:
            e_new = e_new + e
        e = e_new
        m = _mlp2_ref(
            weights, f"l{i}.node1", np.concatenate([x[col], e], axis=1)
        )
        agg = _scatter_mean(m, row, n)
        x_new = _mlp2_ref(
            weights, f"l{i}.node2", np.concatenate([x, agg], axis=1)
        )
        if residual:
            x_new = x_new + x
        x = x_new
    node_logits = _mlp2_ref(weights, "head.node", x)
    edge_logits = _mlp2_ref(weights, "head.edge", e)
    return _log_softmax(node_logits), _log_softmax(edge_logits)


def union_find(n: int, pairs: np.ndarray) -> np.ndarray:
    parent = np.arange(n, dtype=np.int64)

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    for s, d in pairs:
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    for i in range(n):
        parent[i] = find(i)
    return parent


def assemble_cells_per_image(edge_index, edge_cls, bboxes, texts) -> list:
    n = len(bboxes)
    if n == 0:
        return []
    cell_pairs = (
        edge_index[edge_cls == EDGE_CLASS_CELL]
        if len(edge_index)
        else np.empty((0, 2), dtype=np.int64)
    )
    comp = union_find(n, cell_pairs)
    b = np.asarray(bboxes, dtype=np.int64)
    order = np.lexsort((np.arange(n), b[:, 0], b[:, 1]))
    members: dict = {}
    for i in order:
        members.setdefault(comp[i], []).append(int(i))
    comps = []
    for ids in members.values():
        comps.append((int(b[ids, 1].min()), int(b[ids, 0].min()), min(ids), ids))
    comps.sort(key=lambda t: (t[0], t[1], t[2]))
    return ["\n".join(texts[i] for i in ids) for _, _, _, ids in comps]


def run_kernel_arrays_many(
    images: list, weights: dict, strategy: str = "knn"
) -> list:
    """``oracle.extract.run_kernel_batch`` over a list of (bboxes (n,4)
    int64, texts, width, height, image-bytes-or-None) tuples, each row
    already in line_id order. Returns one cell-text list per input
    image: the batch side of the batch-vs-per-image kernel tests."""
    node_off = np.cumsum([0] + [len(im[0]) for im in images])
    bboxes = np.concatenate(
        [np.empty((0, 4), dtype=np.int64)]
        + [np.asarray(im[0], dtype=np.int64).reshape(-1, 4) for im in images]
    )
    cell_img, cells = run_kernel_batch(
        bboxes,
        list(itertools.chain.from_iterable(im[1] for im in images)),
        node_off,
        [im[2] for im in images],
        [im[3] for im in images],
        [im[4] for im in images],
        weights,
        strategy,
    )
    bounds = np.searchsorted(cell_img, np.arange(len(images) + 1)).tolist()
    return [cells[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def bilinear_resize_one(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """One region's half-pixel-center bilinear resize."""
    h, w = img.shape
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    a = img[np.ix_(y0, x0)]
    b = img[np.ix_(y0, x1)]
    c = img[np.ix_(y1, x0)]
    d = img[np.ix_(y1, x1)]
    return (
        a * (1 - wy) * (1 - wx)
        + b * (1 - wy) * wx
        + c * wy * (1 - wx)
        + d * wy * wx
    )


def crop_regions_per_crop(image, bboxes, edges, pad=20):
    """G3 crops cut and resized one at a time: the bitwise reference for
    ``visual.crop_regions``."""
    color = image.ndim == 3
    h, w = image.shape[:2]
    img = image.astype(np.float32)

    def crop(x0, y0, x1, y1, dim):
        x0 = max(int(x0) - pad, 0)
        x1 = min(int(x1) + pad, w)
        y0 = max(int(y0) - pad, 0)
        y1 = min(int(y1) + pad, h)
        region = img[y0:y1, x0:x1]
        if region.size == 0:
            region = np.zeros(
                (1, 1, 3) if color else (1, 1), dtype=np.float32
            )
        if color:
            return np.stack(
                [bilinear_resize_one(region[..., c], dim, dim)
                 for c in range(3)]
            ).astype(np.float32)
        r = bilinear_resize_one(region, dim, dim).astype(np.float32)
        return np.broadcast_to(r, (3, dim, dim))

    node_crops = np.stack(
        [crop(b[0], b[1], b[2], b[3], 10) for b in bboxes]
    ).astype(np.float32)
    if len(edges):
        eb = np.stack([
            (min(bboxes[s][0], bboxes[d][0]), min(bboxes[s][1], bboxes[d][1]),
             max(bboxes[s][2], bboxes[d][2]), max(bboxes[s][3], bboxes[d][3]))
            for s, d in edges
        ])
        edge_crops = np.stack(
            [crop(b[0], b[1], b[2], b[3], 16) for b in eb]
        ).astype(np.float32)
    else:
        edge_crops = np.zeros((0, 3, 16, 16), dtype=np.float32)
    return node_crops, edge_crops
