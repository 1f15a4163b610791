"""Test oracles: the direct implementations the package's fast paths
replaced, kept to pin result equality, and the Spark-vs-DuckDB
comparison harness that mirrors the driver's correctness gate.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from table_recognition_spark.core.bbox import bbox_centers
from table_recognition_spark.core.boilerplate import BOILER_TAGS
from table_recognition_spark.core.visibility import (
    SAMPLING_RATE,
    WINDOW_SIZE,
    _ray_steps,
)
from table_recognition_spark.operators.common import tokens
from table_recognition_spark.operators.dedup import N_MINHASH, _shingles


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
