"""Similarity search over the ``embeddings`` table (``array<float>``).

- brute-force cosine top-k: the correctness baseline. Scoring is the
  integer-quantized dot product (exact cross-engine); ranking breaks ties
  by vec_id.
- sign-LSH bucketed ANN: the scale path. Bucket = sign pattern of the
  first 8 components (axis-aligned random-projection LSH); candidates are
  generated only within the query's bucket, turning the n² scan into a
  bucket-partitioned join. At 100 TB this is the shape that survives:
  explode by bucket → co-partitioned equi-join → per-bucket top-k.

Both have exact DuckDB oracles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window, functions as F

from .common import load

N_QUERIES = 5
TOP_K = 10
LSH_BITS = 8


_DOT_CACHE: dict = {"sess": None, "udf": None}


def _dot_pandas(a, b):
    """Arrow-vectorized integer dot product over candidate pairs.

    Exactly equal to the Catalyst HOF integer dot it replaced (both are
    pure int64 arithmetic on the same quantized vectors; equality is
    pinned by tests/test_queries_duckdb.py) but scored as one numpy
    einsum per Arrow batch instead of a per-pair lambda chain — the HOF
    version cost ~1 ms/pair (10.6 s for 10k pairs in the round-1 bench).
    (The udf object is built
    lazily per SparkSession: the decorator binds a JVM-side _judf, so a
    module-level singleton would hold a dead py4j gateway once a session
    is stopped and another started in the same process, as tests and
    perfbench do.)"""
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if _DOT_CACHE["udf"] is None or _DOT_CACHE["sess"] is not sess:

        @F.pandas_udf("long")
        def dot_pd(x: pd.Series, y: pd.Series) -> pd.Series:
            if len(x) == 0:
                return pd.Series([], dtype="int64")
            A = np.stack(x.to_numpy())
            B = np.stack(y.to_numpy())
            return pd.Series(np.einsum("ij,ij->i", A, B))

        _DOT_CACHE["sess"] = sess
        _DOT_CACHE["udf"] = dot_pd
    return _DOT_CACHE["udf"](a, b)


def _quantized(emb):
    return emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000, 0).cast("long"),
        ).alias("qv"),
    )


def sim_bruteforce_topk(spark, sf_dir):
    """Exact top-k neighbours for the first N_QUERIES vectors by
    quantized dot product (desc), tie-break vec_id asc."""
    q = _quantized(load(spark, sf_dir, "embeddings"))
    queries = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    scored = (
        F.broadcast(queries)
        .join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _dot_pandas("q_qv", "qv").alias("dot_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_q"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "dot_q")
    )


def sim_bruteforce_topk_sql() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> cast(round(x::DOUBLE*1000) AS bigint)) AS qv
      FROM embeddings
    ),
    scored AS (
      SELECT qq.vec_id AS query_id, c.vec_id AS vec_id,
             list_dot_product(qq.qv, c.qv)::bigint AS dot_q
      FROM q qq JOIN q c ON c.vec_id != qq.vec_id
      WHERE qq.vec_id < {N_QUERIES}
    )
    SELECT query_id, rank, vec_id, dot_q FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_q DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """


def _bucket_expr(col, offset: int = 0):
    """Sign-LSH bucket: Σ_{j<8} 2^j · (embedding[offset+j] > 0). Pure
    float comparisons — no arithmetic on floats, so exact cross-engine.
    The bit count is static, so this unrolls to a codegen-friendly sum.
    ``offset`` selects an independent component window (an independent
    hash table for OR-amplified banding in the dedup operator)."""
    bits = [
        F.when(
            F.element_at(col, offset + j + 1) > 0.0, F.lit(1 << j)
        ).otherwise(0)
        for j in range(LSH_BITS)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def sim_lsh_ann_topk(spark, sf_dir):
    """ANN top-k: candidates restricted to the query's sign-LSH bucket,
    then exact quantized-dot ranking within the bucket."""
    emb = load(spark, sf_dir, "embeddings")
    q = _quantized(emb).join(
        emb.select("vec_id", _bucket_expr(F.col("embedding")).alias("bucket")),
        "vec_id",
    )
    queries = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = (
        F.broadcast(queries)
        .join(
            q,
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", _dot_pandas("q_qv", "qv").alias("dot_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "dot_q")
    )


def sim_lsh_ann_topk_sql() -> str:
    bucket = (
        "list_sum(list_transform(range(1, "
        f"{LSH_BITS + 1}), j -> CASE WHEN embedding[j] > 0.0 "
        "THEN (1 << (j - 1)) ELSE 0 END))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> cast(round(x::DOUBLE*1000) AS bigint)) AS qv,
             {bucket} AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT qq.vec_id AS query_id, c.vec_id AS vec_id,
             list_dot_product(qq.qv, c.qv)::bigint AS dot_q
      FROM q qq JOIN q c ON c.bucket = qq.bucket AND c.vec_id != qq.vec_id
      WHERE qq.vec_id < {N_QUERIES}
    )
    SELECT query_id, rank, vec_id, dot_q FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_q DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """


def sim_label_centroid_topk(spark, sf_dir):
    """Centroid similarity (IVF building block): per-label integer
    centroid sums (no division — stays exact), then each of the first
    N_QUERIES vectors ranks labels by dot(query, centroid_sum)."""
    q = _quantized(load(spark, sf_dir, "embeddings"))
    dim = F.size(F.col("qv"))
    exploded = q.select(
        "vec_id", "label", F.posexplode("qv").alias("j", "v")
    )
    centroids = exploded.groupBy("label", "j").agg(F.sum("v").alias("s"))
    cent_arr = (
        centroids.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("j"), F.col("s")))
                ),
                lambda st: st["s"],
            ).alias("cv")
        )
    )
    queries = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    scored = F.broadcast(queries).crossJoin(cent_arr).select(
        "query_id", "label", _dot_pandas("q_qv", "cv").alias("dot_c")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_c"), F.asc("label"))
    _ = dim
    return scored.withColumn("rank", F.row_number().over(w)).select(
        "query_id", "rank", "label", "dot_c"
    )


def sim_label_centroid_topk_sql() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> cast(round(x::DOUBLE*1000) AS bigint)) AS qv
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, label, j, qv[j] AS v
      FROM q, (SELECT unnest(range(1, len((SELECT qv FROM q LIMIT 1)) + 1)) AS j)
    ),
    cent AS (
      SELECT label, list(s ORDER BY j) AS cv
      FROM (SELECT label, j, sum(v) AS s FROM ex GROUP BY label, j)
      GROUP BY label
    )
    SELECT query_id, rank, label, dot_c FROM (
      SELECT qq.vec_id AS query_id, cent.label,
             list_dot_product(qq.qv, cent.cv)::bigint AS dot_c,
             row_number() OVER (
               PARTITION BY qq.vec_id
               ORDER BY list_dot_product(qq.qv, cent.cv)::bigint DESC,
                        cent.label ASC) AS rank
      FROM q qq, cent WHERE qq.vec_id < {N_QUERIES}
    )
    """


def sim_ann_recall(spark, sf_dir):
    """ANN quality metric: per-query recall of the sign-LSH top-k against
    the exact brute-force top-k (|ANN ∩ exact| per query). The evaluation
    loop a production ANN deployment runs on a sampled query set — both
    sides are the operators above, so this also pins their consistency."""
    exact = sim_bruteforce_topk(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("exact_id")
    )
    ann = sim_lsh_ann_topk(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("ann_id")
    )
    hits = exact.join(
        ann,
        (exact.query_id == ann.query_id) & (exact.exact_id == ann.ann_id),
    ).groupBy(exact.query_id).agg(F.count("*").alias("n_hits"))
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "k",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
        .orderBy("query_id")
    )


def sim_ann_recall_sql() -> str:
    return f"""
    WITH exact AS (SELECT query_id, vec_id FROM ({sim_bruteforce_topk_sql()}) e),
    ann AS (SELECT query_id, vec_id FROM ({sim_lsh_ann_topk_sql()}) a),
    hits AS (
      SELECT exact.query_id, count(*) AS n_hits
      FROM exact JOIN ann ON exact.query_id = ann.query_id
                         AND exact.vec_id = ann.vec_id
      GROUP BY exact.query_id
    )
    SELECT k.query_id, k.k, coalesce(hits.n_hits, 0) AS n_hits
    FROM (SELECT query_id, count(*) AS k FROM exact GROUP BY query_id) k
    LEFT JOIN hits ON k.query_id = hits.query_id
    ORDER BY k.query_id
    """


SQ8_LEVELS = 127  # int8 symmetric quantization range


def _sq8_idiv(m, s):
    """Exact bigint m div s (both ≥ 0) without an integer-div builtin
    usable inside a lambda: (m - m % s) is divisible by s, and IEEE
    division of exact doubles with an integer true quotient < 2^53 is
    exact — so this equals DuckDB's `//` bit-for-bit."""
    return ((m - m % s) / s).cast("long")


def sim_sq8_topk(spark, sf_dir):
    """ANN top-k over int8 scalar-quantized vectors (the 4×-compression
    scale path: a 100-TB float corpus probes from a 3-GB-per-billion
    int8 index). scale = max|qv_i| per vector (pure bigint from the
    milli-quantized ints); q8_i = sign·(|qv_i|·127 div scale); ranking
    key = dot8 · scale_q · scale_c — the exact integer numerator of the
    dequantized dot product, so no floats anywhere. Brute-force over
    the compressed vectors; the IVF/LSH bucketing operators compose
    with it unchanged."""
    q = _quantized(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "qv",
        F.array_max(F.transform("qv", F.abs)).alias("scale"),
    )
    sq = q.select(
        "vec_id",
        "scale",
        F.transform(
            "qv",
            lambda x: F.when(F.col("scale") == 0, F.lit(0).cast("long"))
            .when(x < 0, -_sq8_idiv((-x) * SQ8_LEVELS, F.col("scale")))
            .otherwise(_sq8_idiv(x * SQ8_LEVELS, F.col("scale"))),
        ).alias("q8"),
    )
    queries = sq.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q8").alias("q_q8"),
        F.col("scale").alias("q_scale"),
    )
    scored = (
        F.broadcast(queries)
        .join(sq, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                _dot_pandas("q_q8", "q8")
                * F.col("q_scale")
                * F.col("scale")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "score")
    )


def sim_sq8_topk_sql() -> str:
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> cast(round(x::DOUBLE*1000) AS bigint)) AS qv
      FROM embeddings
    ),
    sq AS (
      SELECT vec_id,
             list_max(list_transform(qv, x -> abs(x))) AS scale,
             list_transform(qv, x -> CASE
               WHEN list_max(list_transform(qv, y -> abs(y))) = 0 THEN 0
               WHEN x < 0 THEN -((-x) * {SQ8_LEVELS}
                    // list_max(list_transform(qv, y -> abs(y))))
               ELSE x * {SQ8_LEVELS}
                    // list_max(list_transform(qv, y -> abs(y)))
             END) AS q8
      FROM q
    ),
    scored AS (
      SELECT qq.vec_id AS query_id, c.vec_id AS vec_id,
             list_dot_product(qq.q8, c.q8)::BIGINT
               * qq.scale * c.scale AS score
      FROM sq qq JOIN sq c ON c.vec_id != qq.vec_id
      WHERE qq.vec_id < {N_QUERIES}
    )
    SELECT query_id, rank, vec_id, score FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """


QUERIES = {
    "sim_bruteforce_topk": sim_bruteforce_topk,
    "sim_lsh_ann_topk": sim_lsh_ann_topk,
    "sim_label_centroid_topk": sim_label_centroid_topk,
    "sim_ann_recall": sim_ann_recall,
    "sim_sq8_topk": sim_sq8_topk,
}

ORACLES = {
    "sim_bruteforce_topk": sim_bruteforce_topk_sql(),
    "sim_lsh_ann_topk": sim_lsh_ann_topk_sql(),
    "sim_label_centroid_topk": sim_label_centroid_topk_sql(),
    "sim_ann_recall": sim_ann_recall_sql(),
    "sim_sq8_topk": sim_sq8_topk_sql(),
}


# ----------------------------------------------------------------- IVF ANN
# True IVF (inverted-file) ANN — the scale path past the label-centroid
# building block above: train a coarse quantizer (k-means) on a bounded
# sample, broadcast the centroid table, assign every vector to its
# nearest centroid (one vectorized pandas batch), then answer queries by
# probing only the N_PROBE nearest clusters and exact-ranking inside
# them. At 100 TB the assignment is a scan-side map, the probe is an
# equi-join on cluster id, and the candidate set is |corpus|·nprobe/k —
# never n².
#
# Determinism (this is what makes the committed-expected-parquet oracle
# sound): the k-means sample is the md5-roll of vec_id (same key the
# dedup recall eval uses), init = the k lowest-vec_id sampled vectors,
# Lloyd's runs a FIXED 5 iterations in float64 on the integer-quantized
# vectors, empty clusters keep their previous centroid, and every argmin
# tie resolves to the lowest index.

IVF_CLUSTERS = 16  # floor; see n_coarse_clusters
IVF_PROBE = 6  # 6/16 clusters probed -> 0.68 top-10 recall on the fixture (vs 0.54 at 4, 0.80 at 8); random unit vectors are the adversarial case for a coarse quantizer
IVF_ITERS = 5
IVF_SAMPLE_PCT = 50
# SemDeDup/IVF both bound their per-cluster work by n/k, which only
# holds if k grows with the corpus: k = max(floor, n // target). At the
# fixture scales (500-2000 vectors) this stays at the floor of 16, so
# the committed expected-parquet oracles are unchanged; at 10^9 vectors
# it yields k = 10^6, keeping the probe candidate set and the SemDeDup
# greedy unit at ~10^3 rows.
IVF_TARGET_CLUSTER = 1000


def n_coarse_clusters(n_vectors: int, target: int = IVF_TARGET_CLUSTER,
                      floor: int = IVF_CLUSTERS) -> int:
    """Coarse-quantizer cluster count ∝ corpus size (deterministic:
    derived from an exact count)."""
    return max(floor, int(n_vectors) // target)


def quantizer_sample_cap(k: int) -> int:
    """Bounded driver materialization for quantizer training: ≥ 8
    samples per centroid, capped at 64 Ki rows (O(cap·d) driver
    memory). Past that cap (k > 8192, i.e. corpora beyond ~8 M vectors
    per this sizing) the sample-based trainer under-seeds the
    quantizer; the production path there is distributed k-means
    (pyspark.ml.clustering.KMeans) feeding the same broadcast-centroid
    assignment — the assignment/probe plan shape is unchanged, only
    the trainer moves off the driver."""
    return min(max(4096, 8 * k), 65536)


def _ivf_train_centroids(
    sample_qv: np.ndarray, k: int = IVF_CLUSTERS
) -> np.ndarray:
    """Seeded deterministic Lloyd's; sample_qv (s, d) int64 sorted by
    vec_id; returns (k, d) float64 centroids."""
    k = min(k, len(sample_qv))
    x = sample_qv.astype(np.float64)
    cent = x[:k].copy()
    for _ in range(IVF_ITERS):
        d2 = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ cent.T)
            + (cent * cent).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def sim_ivf_topk(spark, sf_dir):
    """IVF ANN top-k for the first N_QUERIES vectors: nearest-centroid
    assignment, N_PROBE-cluster probe, exact integer-dot rank within
    the probed candidates (self excluded). Non-SQL-expressible
    (iterative k-means) → committed-expected-parquet oracle."""
    from pyspark.sql import SparkSession

    q = _quantized(load(spark, sf_dir, "embeddings")).cache()
    k = n_coarse_clusters(q.count())
    roll = (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 100
    )
    sample = (
        q.filter(roll < IVF_SAMPLE_PCT)
        .select("vec_id", "qv")
        .orderBy("vec_id")
        # bounded driver materialization at any corpus size, scaled to
        # the centroid count (see quantizer_sample_cap)
        .limit(quantizer_sample_cap(k))
        .toPandas()
    )
    order = np.argsort(sample["vec_id"].to_numpy())
    cent = _ivf_train_centroids(
        np.stack(sample["qv"].to_numpy()[order]).astype(np.int64), k
    )
    bc = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def nearest_cluster(qv: pd.Series) -> pd.Series:
        c = bc.value
        if len(qv) == 0:
            return pd.Series([], dtype="int32")
        X = np.stack(qv.to_numpy()).astype(np.float64)
        d2 = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    assigned = q.withColumn("cluster", nearest_cluster("qv"))

    @F.pandas_udf("array<int>")
    def probe_clusters(qv: pd.Series) -> pd.Series:
        c = bc.value
        if len(qv) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(qv.to_numpy()).astype(np.float64)
        d2 = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        k = min(IVF_PROBE, d2.shape[1])
        # stable nearest-k cluster ids (distance, then index)
        part = np.argsort(d2, axis=1, kind="stable")[:, :k]
        return pd.Series(list(part.astype(np.int32)))

    queries = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("q_qv"),
            probe_clusters("qv").alias("probes"),
        )
        .select(
            "query_id", "q_qv", F.explode("probes").alias("cluster")
        )
    )
    scored = (
        F.broadcast(queries)
        .join(
            assigned.select("vec_id", "qv", "cluster"),
            ["cluster"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", _dot_pandas("q_qv", "qv").alias("dot_q")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "dot_q")
        .orderBy("query_id", "rank")
    )


QUERIES["sim_ivf_topk"] = sim_ivf_topk
