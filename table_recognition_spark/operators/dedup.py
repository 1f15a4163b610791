"""Deduplication operators for a training-data pipeline, each with an
exact DuckDB oracle:

- exact dedup: hash-groupBy on the normalized-text md5 fingerprint
- MinHash + LSH: shingle → md5-based minhash signature → banding →
  bucket join → candidate pairs → exact-Jaccard verify
- SimHash: 16-bit signature from md5 nibble votes + hamming-ball pairs
- n-gram Jaccard: explode-distinct-shingle self-join
- embedding cosine near-dup: integer-quantized vectors so the threshold
  test is pure integer arithmetic (25·dot² ≥ 4·‖a‖²·‖b‖², dot > 0 —
  i.e. cosine ≥ 0.4) — bit-identical across engines

Scale notes (100 TB design point): every operator is
explode → hash-shuffle on a key (fingerprint / band hash / token /
bucket) → per-key candidate pairing — no cross product ever
materializes; candidate verification joins back by doc id. Exact
pairwise stages are written against LSH/band-bucketed candidates, not
the full n² (the unigram-Jaccard demo bounds pair fan-out by token).

The corpus under test plants duplicates deterministically (the testdata
documents table has none): every 7th doc is unioned verbatim with a
``dup_`` id, every 11th with one appended token (a near-dup).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .common import (
    NORM_SQL,
    TOKEN_PATTERN,
    load,
    norm_text,
    tokens,
    tokens_sql,
)

N_MINHASH = 8
N_BANDS = 2
ROWS_PER_BAND = 4  # wider bands: false-candidate rate ~ j^4, not j^2


def _with_planted_dups(docs):
    # the testdata documents table is a single parquet file → one input
    # partition; fan out before the (expensive) per-row expression trees
    # so all cores participate. On a real multi-file table this is a no-op
    # cost-wise (AQE coalesces back).
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extradup")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(exact).unionByName(near)


_PLANTED_SQL = """
    (SELECT doc_id, text FROM documents
     UNION ALL
     SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
     UNION ALL
     SELECT doc_id + 200000 AS doc_id, text || ' extradup' AS text
     FROM documents WHERE doc_id % 11 = 0)
"""


def dedup_exact(spark, sf_dir):
    """Exact dedup: md5(normalized text) hash-groupBy; emit groups with
    >1 member, keeping the smallest doc_id as the canonical survivor."""
    docs = _with_planted_dups(load(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", F.md5(norm_text(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact_sql() -> str:
    norm = NORM_SQL.format(c="text")
    return f"""
    SELECT md5({norm}) AS fp, count(*) AS n_copies,
           min(doc_id) AS canonical_doc_id, max(doc_id) AS max_doc_id
    FROM {_PLANTED_SQL} GROUP BY 1 HAVING count(*) > 1
    """


def _shingles(toks, n: int = 3):
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def _shingles_sql(toks: str, n: int = 3) -> str:
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )



_SHINGLE_CACHE: dict = {"sess": None, "udf": None}


def _shingle_df(docs, n: int = 3):
    """(doc_id, shingles): distinct 3-token shingles per document.

    One Arrow-batched pandas UDF per row — ``re.findall`` + list
    slicing. Result-identical to the Catalyst HOF chain
    (``array_distinct(transform(sequence(...), slice/concat_ws))`` over
    ``regexp_extract_all(norm_text, token_pattern)``) because the token
    pattern ``[a-z0-9]+`` makes the whitespace normalization a no-op;
    equality is pinned by tests/test_dedup_cap.py. The HOF chain cost
    ~1.9 ms/doc in interpreted lambda dispatch (11.4 s of the sf0.1
    jaccard query); the batch UDF is ~30 µs/doc.
    """
    import re

    from pyspark.sql import SparkSession

    P = docs.sparkSession.sparkContext.defaultParallelism
    sess = SparkSession.getActiveSession()
    if (
        _SHINGLE_CACHE["udf"] is None
        or _SHINGLE_CACHE["sess"] is not sess
        or _SHINGLE_CACHE.get("n") != n
    ):
        pat = re.compile(TOKEN_PATTERN)

        @F.pandas_udf("array<string>")
        def shingles_pd(texts: pd.Series) -> pd.Series:
            out = []
            for s in texts:
                toks = pat.findall((s or "").lower())
                sh = [
                    " ".join(toks[i : i + n])
                    for i in range(max(len(toks) - (n - 1), 1))
                ]
                out.append(list(dict.fromkeys(sh)))
            return pd.Series(out)

        _SHINGLE_CACHE["sess"] = sess
        _SHINGLE_CACHE["udf"] = shingles_pd
        _SHINGLE_CACHE["n"] = n
    return docs.repartition(P).select(
        "doc_id", _SHINGLE_CACHE["udf"]("text").alias("shingles")
    )


_SHINGLE_SIG_CACHE: dict = {"sess": None, "udf": None}


def _shingle_sig_df(docs, n: int = 3):
    """(doc_id, shingles, sig): distinct 3-token shingles plus the
    N_MINHASH-hash minhash signature, both from ONE Arrow-batched
    pandas UDF.

    sig[h] = min over shingles of md5(f"{h}:{shingle}") — byte-identical
    to the Catalyst HOF tree it replaced (equality pinned by
    tests/test_dedup_cap.py; hex digests are ASCII, so Python ``min``,
    Spark ``array_min`` and DuckDB ``list_min`` order them identically)
    and to the DuckDB oracle in :func:`dedup_minhash_lsh_sql`. Moving the 8×|shingles| md5's out of
    nested interpreted HOF lambdas (per-element lambda dispatch,
    ~3 s/6 k docs at sf0.1) into hashlib (~0.6 µs/call) makes the
    signature stage vanish into the shingle scan."""
    import hashlib
    import re

    from pyspark.sql import SparkSession

    P = docs.sparkSession.sparkContext.defaultParallelism
    sess = SparkSession.getActiveSession()
    if (
        _SHINGLE_SIG_CACHE["udf"] is None
        or _SHINGLE_SIG_CACHE["sess"] is not sess
        or _SHINGLE_SIG_CACHE.get("n") != n
    ):
        pat = re.compile(TOKEN_PATTERN)
        prefixes = [f"{h}:".encode() for h in range(N_MINHASH)]
        md5 = hashlib.md5

        @F.pandas_udf("shingles array<string>, sig array<string>")
        def shingle_sig_pd(texts: pd.Series) -> pd.DataFrame:
            sh_out, sig_out = [], []
            for s in texts:
                toks = pat.findall((s or "").lower())
                sh = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + n])
                        for i in range(max(len(toks) - (n - 1), 1))
                    )
                )
                enc = [x.encode() for x in sh]
                sig_out.append(
                    [
                        min(md5(p + e).hexdigest() for e in enc)
                        for p in prefixes
                    ]
                )
                sh_out.append(sh)
            return pd.DataFrame({"shingles": sh_out, "sig": sig_out})

        _SHINGLE_SIG_CACHE["sess"] = sess
        _SHINGLE_SIG_CACHE["udf"] = shingle_sig_pd
        _SHINGLE_SIG_CACHE["n"] = n
    return (
        docs.repartition(P)
        .select("doc_id", _SHINGLE_SIG_CACHE["udf"]("text").alias("ss"))
        .select("doc_id", "ss.shingles", "ss.sig")
    )


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup detection.

    signature_h = min over 3-token shingles of md5(h || ':' || shingle)
    for h in 0..7; band b = sig[4b..4b+3] joined; candidate pairs share
    any band bucket; verified by exact shingle-set Jaccard ≥ 1/2
    (integer cross-multiplied: 2·|∩| ≥ |∪|). Bands are 4 rows wide so a
    random pair (jaccard j) collides with probability ~2·j⁴ — this is what
    keeps the candidate join sub-quadratic on low-entropy corpora.
    """
    docs = _with_planted_dups(load(spark, sf_dir, "documents"))
    # base feeds three plan branches (banding + both sides of the verify
    # join); cache it so the fused shingle+signature UDF runs once
    base = _shingle_sig_df(docs).cache()

    bands = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        "|",
                        F.slice(F.col("sig"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")

    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    a = base.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size(F.array_union("sh_a", "sh_b")).alias("n_union"),
        )
        .filter(F.col("n_common") * 2 >= F.col("n_union"))
    )
    return verified.select("doc_a", "doc_b", "n_common", "n_union")


def dedup_minhash_lsh_sql() -> str:
    toks = tokens_sql("text")
    sh = f"list_distinct({_shingles_sql(toks)})"
    sig_elems = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{h}:' || s)))"
        for h in range(N_MINHASH)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, sh, [{sig_elems}] AS sig
      FROM (SELECT doc_id, {sh} AS sh FROM {_PLANTED_SQL})
    ),
    bands AS (
      SELECT doc_id, b AS band, array_to_string(list_slice(sig, b*4+1, b*4+4), '|') AS bucket
      FROM base, unnest(range(0, {N_BANDS})) t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           len(list_intersect(x.sh, y.sh)) AS n_common,
           len(list_distinct(list_concat(x.sh, y.sh))) AS n_union
    FROM cand JOIN base x ON cand.doc_a = x.doc_id
              JOIN base y ON cand.doc_b = y.doc_id
    WHERE len(list_intersect(x.sh, y.sh)) * 2
          >= len(list_distinct(list_concat(x.sh, y.sh)))
    """


def dedup_simhash(spark, sf_dir):
    """16-bit SimHash per document from md5 nibble votes.

    bit i (1-based hex position) of token t = high bit of md5(t)'s i-th
    nibble = (hex char >= '8'); per-position vote sum > 0 → bit set;
    simhash = Σ bit_i · 2^(16-i). Emits (doc_id, simhash, bucket) where
    bucket = simhash >> 8 (the LSH prefix used for pairing at scale).

    Shape: ONE explode over tokens, then 16 unrolled partial-aggregate
    vote columns in a single groupBy — no per-bit row blowup, one
    shuffle total (vs explode×16 → two shuffles).
    """
    docs = _with_planted_dups(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).select("doc_id", F.md5("token").alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring("h", i, 1) >= "8", 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(1, 17)
        ]
    )
    simhash = None
    for i in range(1, 17):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << (16 - i))).otherwise(0)
        simhash = term if simhash is None else simhash + term
    return votes.select(
        "doc_id",
        simhash.cast("long").alias("simhash"),
        (simhash.cast("long") / 256).cast("long").alias("bucket"),
    )


def dedup_simhash_sql() -> str:
    toks = tokens_sql("text")
    vote_cols = ",\n             ".join(
        f"sum(CASE WHEN substr(h, {i}, 1) >= '8' THEN 1 ELSE -1 END) AS v{i}"
        for i in range(1, 17)
    )
    simhash = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << (16 - i)} ELSE 0 END)"
        for i in range(1, 17)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, md5(unnest({toks})) AS h FROM {_PLANTED_SQL}
    ),
    votes AS (
      SELECT doc_id,
             {vote_cols}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, ({simhash})::BIGINT AS simhash,
           (({simhash}) // 256)::BIGINT AS bucket
    FROM votes
    """


JACCARD_DF_CAP = 64


def dedup_jaccard_ngram(spark, sf_dir):
    """n-gram (3-token shingle) Jaccard near-dup pairs via
    distinct-shingle self-join (explode → shuffle on shingle → pair
    counts); threshold 4/5 integer cross-multiplied: 5·|∩| ≥ 4·|∪|.
    Shingles (not unigrams) keep the join key selective: on a
    low-entropy corpus every unigram is near-universal and the self-join
    would go quadratic, while 3-gram document frequency stays bounded.

    Defense in depth: shingles whose document frequency exceeds
    ``JACCARD_DF_CAP`` are dropped BEFORE the self-join (standard
    near-dup practice) — an adversarial corpus with one near-universal
    shingle would otherwise make the key fan-out quadratic in corpus
    size. Jaccard is computed consistently over the capped shingle
    universe (sizes and intersections both exclude capped tokens); the
    cap is far above this corpus's max df (10 at sf0.01), so it only
    binds on adversarial input (pinned by tests/test_dedup_cap.py)."""
    from pyspark.sql import Window

    docs = _with_planted_dups(load(spark, sf_dir, "documents"))
    tok = _shingle_df(docs).select(
        "doc_id", F.explode("shingles").alias("token")
    )
    # df via a window count (ONE evaluation of the tokenizer subplan and
    # one exchange on token — a groupBy+join-back would evaluate tok
    # twice and shuffle twice; the window's hash-partitioning is exactly
    # what the self-join needs)
    rare = (
        tok.withColumn(
            "df", F.count("*").over(Window.partitionBy("token"))
        )
        .filter(F.col("df") <= JACCARD_DF_CAP)
        .drop("df")
    ).cache()  # feeds sizes + both sides of the pair join
    sizes = rare.groupBy("doc_id").agg(F.count("*").alias("n"))
    pairs = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n", "n_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n", "n_b"
            ),
            "doc_b",
        )
        .filter(
            F.col("n_common") * 5
            >= (F.col("n_a") + F.col("n_b") - F.col("n_common")) * 4
        )
        .select("doc_a", "doc_b", "n_common", (F.col("n_a") + F.col("n_b") - F.col("n_common")).alias("n_union"))
    )


def dedup_jaccard_ngram_sql() -> str:
    sh = _shingles_sql(tokens_sql("text"))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({sh})) AS token FROM {_PLANTED_SQL}
    ),
    keep AS (
      SELECT token FROM tok GROUP BY token
      HAVING count(*) <= {JACCARD_DF_CAP}
    ),
    rare AS (SELECT tok.doc_id, tok.token FROM tok JOIN keep USING (token)),
    sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM rare a JOIN rare b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, sa.n + sb.n - n_common AS n_union
    FROM pairs JOIN sizes sa ON pairs.doc_a = sa.doc_id
               JOIN sizes sb ON pairs.doc_b = sb.doc_id
    WHERE n_common * 5 >= (sa.n + sb.n - n_common) * 4
    """


# --- embedding near-dup: SRP-LSH (random-hyperplane signatures) -------
#
# Design note (round-3 redesign). Round 2 bucketed by the sign pattern
# of the first 8 raw components with a cosine ≥ 0.4 verify. Measuring
# candidate recall against the bucketing-free all-pairs truth exposed
# two problems: (a) the testdata embeddings contain NO true near-dups —
# every pair above 0.4 is a random cross-label coincidence (59 pairs at
# sf0.01, only 5 same-label, none above cosine 0.6), which no
# sub-quadratic candidate scheme can find because they are not
# clustered; (b) 0.4 is not a duplicate threshold at all. The operator
# now matches production near-dup practice (SemDeDup-style):
#
# - the corpus plants deterministic near-dups (every 7th vector copied
#   verbatim, every 11th re-scaled per-component by 1 ± 0.15 → cosine
#   ≈ 0.989), mirroring the text dedup operators' planted corpus;
# - threshold cosine ≥ 0.95, integer-exact: dot > 0 ∧ 400·dot² ≥
#   361·‖a‖²·‖b‖²;
# - candidates via SRP-LSH: EMB_BANDS=8 independent bands, each the
#   16-bit sign pattern of random ±1 hyperplanes applied to the
#   quantized vector (pure int arithmetic → bit-identical across
#   engines; the hyperplane matrix is a fixed seeded constant inlined
#   into both plans). A random pair collides in a band with p ≈ 2⁻¹⁶;
#   a planted near-dup (θ ≈ 0.15 rad, per-bit agreement ≈ 0.953)
#   collides with p ≈ 0.46 per band → miss probability (1-p)⁸ ≈ 0.007.
#   ``dedup_embedding_recall`` measures exactly this against the
#   brute-force truth.

EMB_BANDS = 8
EMB_BITS = 16
EMB_DIM = 64


def _srp_planes():
    rng = np.random.default_rng(20240814)
    return rng.choice(
        np.array([-1, 1], dtype=np.int64), (EMB_BANDS * EMB_BITS, EMB_DIM)
    )


def _with_planted_emb(emb):
    """embeddings ∪ exact copies (%7, +100000) ∪ near-dups (%11,
    +200000, component j scaled by 1+0.15 for even j / 1-0.15 for odd —
    cosine ≈ 0.989; pure double arithmetic, exact cross-engine)."""
    exact = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "label", "embedding"
    )
    near = emb.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        "label",
        F.transform(
            "embedding",
            lambda x, i: (
                x.cast("double")
                * F.when(i % 2 == 0, F.lit(1.15)).otherwise(F.lit(0.85))
            ).cast("double"),
        ).alias("embedding"),
    )
    return (
        emb.select("vec_id", "label", F.transform(
            "embedding", lambda x: x.cast("double")).alias("embedding"))
        .unionByName(exact.select("vec_id", "label", F.transform(
            "embedding", lambda x: x.cast("double")).alias("embedding")))
        .unionByName(near)
    )


_PLANTED_EMB_SQL = """
    (SELECT vec_id, label,
            list_transform(embedding, x -> x::DOUBLE) AS embedding
     FROM embeddings
     UNION ALL
     SELECT vec_id + 100000, label,
            list_transform(embedding, x -> x::DOUBLE)
     FROM embeddings WHERE vec_id % 7 = 0
     UNION ALL
     SELECT vec_id + 200000, label,
            list_transform(range(1, {dim} + 1),
              j -> embedding[j]::DOUBLE *
                   (CASE WHEN (j - 1) % 2 = 0 THEN 1.15 ELSE 0.85 END))
     FROM embeddings WHERE vec_id % 11 = 0)
""".format(dim=EMB_DIM)


def _emb_quantized(spark, sf_dir):
    """(vec_id, label, qv, norm2) over the planted corpus; qv =
    round(x·1000) as int64 (quantize AFTER planting so the near-dup
    perturbation is shared exactly with the oracle)."""
    emb = _with_planted_emb(load(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x * 1000, 0).cast("long")
        ).alias("qv"),
    ).withColumn(
        "norm2",
        F.aggregate("qv", F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    )


_SRP_CACHE: dict = {"sess": None, "udf": None}


def _srp_buckets_pandas(qv_col):
    """array<long> of EMB_BANDS bucket values per row: one numpy matmul
    per Arrow batch against the fixed ±1 hyperplane matrix, bits packed
    per 16-plane band. Integer arithmetic end to end. (UDF cached per
    SparkSession — see similarity._dot_pandas for why.)"""
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if _SRP_CACHE["udf"] is None or _SRP_CACHE["sess"] is not sess:
        planes = _srp_planes()
        weights = 1 << np.arange(EMB_BITS, dtype=np.int64)

        @F.pandas_udf("array<long>")
        def srp(qv: pd.Series) -> pd.Series:
            if len(qv) == 0:
                return pd.Series([], dtype=object)
            Q = np.stack(qv.to_numpy())  # (n, dim) int64
            bits = (Q @ planes.T) > 0  # (n, bands*bits)
            b = bits.reshape(len(Q), EMB_BANDS, EMB_BITS)
            buckets = (b * weights[None, None, :]).sum(axis=2)
            return pd.Series(list(buckets))

        _SRP_CACHE["sess"] = sess
        _SRP_CACHE["udf"] = srp
    return _SRP_CACHE["udf"](qv_col)


def _emb_candidates(q):
    """SRP-LSH banded candidate pairs (id_a < id_b): explode the
    per-band buckets → co-partitioned equi-join on (band, bucket) →
    distinct. Sub-quadratic: random pairs collide with ~8·2⁻¹⁶."""
    bands = q.select(
        "vec_id",
        F.posexplode(_srp_buckets_pandas(F.col("qv"))).alias(
            "band", "bucket"
        ),
    )
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )


_COS_T = (400, 361)  # cosine ≥ 0.95 ⇔ dot>0 ∧ 400·dot² ≥ 361·na·nb


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs over the planted corpus: SRP-LSH banded
    candidates (see module design note) verified by exact integer
    cosine ≥ 0.95. Scoring is the Arrow-vectorized numpy dot
    (similarity._dot_pandas), exactly equal to the SQL oracle's
    integer dot."""
    from .similarity import _dot_pandas

    q = _emb_quantized(spark, sf_dir).cache()
    cand = _emb_candidates(q)
    a = q.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label"),
        F.col("qv").alias("qa"),
        F.col("norm2").alias("na"),
    )
    b = q.select(
        F.col("vec_id").alias("id_b"),
        F.col("qv").alias("qb"),
        F.col("norm2").alias("nb"),
    )
    tn, td = _COS_T
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("dot", _dot_pandas("qa", "qb"))
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot") * F.col("dot") * tn
                >= F.col("na") * F.col("nb") * td
            )
        )
        .select("id_a", "id_b", "dot", "label")
    )


def _srp_band_sql(band: int, planes) -> str:
    """SQL for one band's bucket: Σ_k 2^k·(dot(qv, plane_{band,k}) > 0)
    with the plane rows inlined as integer list literals."""
    terms = []
    for k in range(EMB_BITS):
        row = planes[band * EMB_BITS + k]
        lit = "[" + ", ".join(str(int(v)) for v in row) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(qv, {lit}) > 0 "
            f"THEN {1 << k} ELSE 0 END)"
        )
    return " + ".join(terms)


def _emb_base_sql() -> str:
    planes = _srp_planes()
    band_union = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {b} AS band, ({_srp_band_sql(b, planes)})::BIGINT"
        " AS bucket FROM n"
        for b in range(EMB_BANDS)
    )
    return f"""
    q AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> cast(round(x*1000) AS bigint)) AS qv
      FROM {_PLANTED_EMB_SQL}
    ),
    n AS (
      SELECT *, list_sum(list_transform(qv, x -> x * x)) AS norm2 FROM q
    ),
    bands AS (
      {band_union}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )"""


def dedup_embedding_cosine_sql() -> str:
    tn, td = _COS_T
    return f"""
    WITH {_emb_base_sql()}
    SELECT id_a, id_b,
           list_dot_product(x.qv, y.qv)::bigint AS dot,
           x.label AS label
    FROM cand JOIN n x ON cand.id_a = x.vec_id
              JOIN n y ON cand.id_b = y.vec_id
    WHERE list_dot_product(x.qv, y.qv)::bigint > 0
      AND list_dot_product(x.qv, y.qv)::bigint
          * list_dot_product(x.qv, y.qv)::bigint * {tn}
          >= x.norm2 * y.norm2 * {td}
    """


RECALL_SAMPLE_PCT = 25  # seeded md5-roll query sample for the recall eval
# hard ceiling on the driver-side sample materialization — keeps the eval
# O(cap·d) no matter how large the corpus grows (mirrors IVF_SAMPLE/limit)
RECALL_SAMPLE_CAP = 4096


def _md5_roll(col):
    """Deterministic 0..99 roll from md5(id) — the same cross-engine
    sampling key textstats' stratified sampler uses (scan-side codegen
    filter, no shuffle, identical in DuckDB)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )


def dedup_embedding_recall(spark, sf_dir, sample_pct: int = RECALL_SAMPLE_PCT):
    """Candidate-generation recall of the SRP-LSH bands against the
    exact near-dup truth (integer cosine ≥ 0.95, no bucketing) on a
    SEEDED QUERY SAMPLE — the production ANN/dedup eval loop. A
    deterministic md5-roll picks ``sample_pct``% of vec_ids; the truth
    is every near-dup pair with at least one sampled endpoint (each
    sampled vector scored against the FULL corpus, so LSH misses are
    still visible); ``n_caught < n_true`` flags any pair the bands
    miss. Output: one row (n_true, n_caught).

    Plan shape (the scale path round 3 lacked): only the SAMPLE's
    quantized matrix is broadcast — O(s·d), the same payload a
    broadcast-hash join ships — and the full table streams through one
    integer einsum per Arrow batch: O(n·s) compute, no O(n²) scoring
    and no full-matrix driver materialization. ``sample_pct=100``
    degenerates to the exhaustive fixture-scale eval (same single code
    path). Both-sampled pairs are emitted once (batch-id < sample-id
    keeps exactly one copy); pairs are canonical (min, max)."""
    q = _emb_quantized(spark, sf_dir).cache()
    tn, td = _COS_T

    # Absolute cap on the driver materialization (the same bounded-sample
    # pattern sim_ivf_topk uses, similarity.py:388): the md5-roll keeps the
    # sample deterministic and cross-engine reproducible, the orderBy +
    # limit keeps it O(cap·d) at ANY corpus size — a bare percentage would
    # grow with the corpus. No-op at fixture scale (25% of 500 = 125 rows).
    sample = (
        q.filter(_md5_roll(F.col("vec_id")) < sample_pct)
        .orderBy("vec_id")
        .limit(RECALL_SAMPLE_CAP)
    )
    spd = sample.select("vec_id", "qv", "norm2").toPandas()
    order = np.argsort(spd["vec_id"].to_numpy())
    ids_s = spd["vec_id"].to_numpy()[order].astype(np.int64)
    S = np.stack(spd["qv"].to_numpy()[order]).astype(np.int64)
    n2_s = spd["norm2"].to_numpy()[order].astype(np.int64)
    bc = spark.sparkContext.broadcast((ids_s, S, n2_s))

    def fn(batches):
        ids_sv, Sm, n2sv = bc.value
        s_set = set(int(x) for x in ids_sv)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Qb = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
            ids_b = pdf["vec_id"].to_numpy().astype(np.int64)
            n2b = pdf["norm2"].to_numpy().astype(np.int64)
            dots = Qb @ Sm.T  # (batch, s) int64
            # int64 throughout — identical to the Spark/DuckDB bigint
            # arithmetic (values are far inside the int64 range for
            # unit-scale embeddings: dot² · 400 < 4e17)
            ok = (dots > 0) & (
                dots * dots * tn >= n2b[:, None] * n2sv[None, :] * td
            )
            ok &= ids_b[:, None] != ids_sv[None, :]  # no self pairs
            # a pair with BOTH endpoints sampled appears in two batches'
            # scoring; keep only the copy where the streamed id is the
            # smaller one
            in_s = np.fromiter(
                (int(i) in s_set for i in ids_b), dtype=bool,
                count=len(ids_b),
            )
            ok &= ~(in_s[:, None] & (ids_b[:, None] > ids_sv[None, :]))
            bi, si = np.nonzero(ok)
            if len(bi):
                yield pd.DataFrame(
                    {
                        "id_a": np.minimum(ids_b[bi], ids_sv[si]),
                        "id_b": np.maximum(ids_b[bi], ids_sv[si]),
                    }
                )

    true_pairs = q.select("vec_id", "qv", "norm2").mapInPandas(
        fn, "id_a long, id_b long"
    )
    cand = _emb_candidates(q)
    caught = true_pairs.join(cand, ["id_a", "id_b"], "left_semi")
    return true_pairs.agg(F.count("*").alias("n_true")).crossJoin(
        caught.agg(F.count("*").alias("n_caught"))
    )


def dedup_embedding_recall_sql(sample_pct: int = RECALL_SAMPLE_PCT) -> str:
    tn, td = _COS_T
    roll = (
        "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 100"
    )
    return f"""
    WITH {_emb_base_sql()},
    s AS (SELECT * FROM n WHERE {roll} < {sample_pct}
          ORDER BY vec_id LIMIT {RECALL_SAMPLE_CAP}),
    true_pairs AS (
      SELECT DISTINCT least(x.vec_id, y.vec_id) AS id_a,
                      greatest(x.vec_id, y.vec_id) AS id_b
      FROM s x JOIN n y ON x.vec_id != y.vec_id
      WHERE list_dot_product(x.qv, y.qv)::bigint > 0
        AND list_dot_product(x.qv, y.qv)::bigint
            * list_dot_product(x.qv, y.qv)::bigint * {tn}
            >= x.norm2 * y.norm2 * {td}
    )
    SELECT (SELECT count(*) FROM true_pairs) AS n_true,
           (SELECT count(*) FROM true_pairs t
            WHERE EXISTS (SELECT 1 FROM cand c
                          WHERE c.id_a = t.id_a AND c.id_b = t.id_b)
           ) AS n_caught
    """


def _local_cc_mapping(edges_df):
    """Partition-local union-find contraction (Arrow-batched
    ``mapInPandas``): edge batch (u, v) → mapping rows (label, root)
    with root = min of the label's batch-local component, emitted only
    where root < label. Each batch contracts independently — any edge
    subset yields a valid (partial) contraction, so batch/partition
    boundaries only affect how many global rounds the fixpoint needs,
    never correctness."""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for u, v in zip(pdf["u"], pdf["v"]):
                u, v = int(u), int(v)
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
            out = [(x, find(x)) for x in parent]
            out = [(x, r) for x, r in out if r != x]
            if out:
                yield pd.DataFrame(out, columns=["label", "root"])

    return edges_df.mapInPandas(fn, "label long, root long")


# Driver-local CC threshold (round-7): below this many EDGES the
# component labeling runs as one bounded collect + union-find on the
# driver (200k pairs × 16 B ≈ 3 MB) instead of iterated contraction
# rounds whose per-round fixed cost (translate joins + Arrow contraction
# + checkpoint, ~0.4 s each) dwarfs fixture-sized inputs — the same
# capped-materialization pattern as BPE_LOCAL_VOCAB_CAP and
# RECALL_SAMPLE_CAP. Above the cap the distributed loop runs unchanged;
# equality of the two paths is pinned by tests/test_connected_components.
CC_LOCAL_PAIRS_CAP = 200_000


def _cc_local(edge_rows):
    """Driver-side union-find: (u, v) rows → {node: component min}."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # attach the larger root under the smaller: every root is
            # its component's running min, so the fixpoint label IS the
            # component min — identical to the distributed loop
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def connected_components(pairs, src: str = "doc_a", dst: str = "doc_b",
                         max_rounds: int = 50,
                         local_pairs_cap: int = CC_LOCAL_PAIRS_CAP):
    """Distributed connected components over an undirected edge list →
    (doc_id, group_id = component min). The step that turns pairwise
    near-dup detection into a keep-one-per-cluster dedup decision;
    exposed standalone so any pair producer (minhash, simhash, jaccard,
    embedding) can feed it.

    Algorithm: iterated LOCAL CONTRACTION (the two-level scheme
    GraphFrames/Grape-style systems use) —

    1. translate edge endpoints through the current label table
       (two hash joins), keep cross-label edges (min, max);
    2. partition by the min endpoint and contract each partition with
       an in-memory union-find (one Arrow batch pass, no per-row
       Python boundary) → a (label → smaller root) mapping;
    3. apply the mapping to the label table; repeat until no
       cross-label edge remains.

    4. pointer-jump the label table (group ← group(group), one
       self-join folded into the same update plan): the reconciled
       mapping of a scattered path is itself chain-shaped (5→4, 4→3,
       …), so one application only shifts labels a step; the jump
       doubles the contraction distance per round, giving O(log
       diameter) rounds on adversarial chains (pinned by
       tests/test_connected_components.py's 400-node path).

    A whole component colocated in one partition collapses in a single
    round (vs O(diameter) rounds for plain min-label propagation, which
    made this the suite's slowest query in round 2 at 25 s); labels
    decrease monotonically toward the component min, so the fixpoint is
    exact. Convergence detection is the emptiness of the (already
    materialized) mapping — no extra join+count job per round.
    ``localCheckpoint`` truncates lineage each round (reliable
    ``checkpoint()`` to HDFS/S3 at cluster scale)."""
    spark = pairs.sparkSession
    # materialize the pair set ONCE: it feeds the vertex set and every
    # round's translation join
    pairs = pairs.select(src, dst).localCheckpoint()
    # bounded-input fast path: the checkpoint is materialized, so this
    # count is a cached-RDD scan, not a recompute
    if pairs.count() <= local_pairs_cap:
        comp = _cc_local(
            (int(r[0]), int(r[1])) for r in pairs.collect()
        )
        return spark.createDataFrame(
            sorted(comp.items()), "doc_id long, group_id long"
        )
    # Seed contraction folded into the label-table build (round-6): the
    # first loop round used to spend its full translate-contract-apply
    # cycle discovering what a partition-local union-find over the raw
    # pairs already knows. Contracting u-partitioned pairs BEFORE the
    # loop seeds labels with each partition's component minima, so the
    # common case (a component's pairs co-located by its min endpoint)
    # converges in a single verify round; cross-partition components
    # still reconcile in the loop as before.
    seed = (
        _local_cc_mapping(
            pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .repartition("u")
        )
        .groupBy("label")
        .agg(F.min("root").alias("root"))
    )
    labels = (
        pairs.select(F.col(src).alias("doc_id"))
        .union(pairs.select(dst))
        .distinct()
        .join(seed, F.col("doc_id") == seed["label"], "left")
        .select("doc_id", F.coalesce("root", "doc_id").alias("group_id"))
        .localCheckpoint()
    )
    for _round in range(max_rounds):
        e = (
            pairs.join(
                labels.select(
                    F.col("doc_id").alias(src),
                    F.col("group_id").alias("ga"),
                ),
                src,
            )
            .join(
                labels.select(
                    F.col("doc_id").alias(dst),
                    F.col("group_id").alias("gb"),
                ),
                dst,
            )
            .select(
                F.least("ga", "gb").alias("u"),
                F.greatest("ga", "gb").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            # no explicit partition count: AQE right-sizes the exchange
            # (coalesces the near-empty fixture rounds to one task,
            # splits skewed u-keys at scale)
            .repartition("u")
        )
        # a label seen in several partitions yields several mapping rows
        # — reconcile to the smallest root (the next round reconverges)
        mapping = (
            _local_cc_mapping(e)
            .groupBy("label")
            .agg(F.min("root").alias("root"))
            .localCheckpoint()
        )
        if mapping.isEmpty():
            break
        # Pointer jumping on the SMALL side: reconciliation chains
        # (5→4, 4→3, …) live entirely inside the mapping, so composing
        # the mapping with itself (root ← root(root), one doubling per
        # round — the same per-round power as a label-table jump)
        # shortens them with a join bounded by the CHANGED-label count;
        # the full label table never self-joins. AQE broadcasts these
        # tiny joins at runtime.
        j = mapping.select(
            F.col("label").alias("jl"), F.col("root").alias("jr")
        )
        composed = mapping.join(j, mapping["root"] == j["jl"], "left").select(
            "label",
            F.least(F.col("root"), F.coalesce("jr", "root")).alias("root"),
        )
        labels = (
            labels.join(
                composed, labels["group_id"] == composed["label"], "left"
            )
            .select(
                "doc_id",
                F.coalesce("root", "group_id").alias("group_id"),
            )
            .localCheckpoint(eager=False)
        )
    else:  # pragma: no cover — progress is guaranteed each round
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            "rounds"
        )
    return labels


def dedup_groups_cc(spark, sf_dir):
    """Duplicate GROUPS from the jaccard near-dup pairs via
    :func:`connected_components`. Oracle: DuckDB recursive-CTE
    transitive closure over the same pair set."""
    return connected_components(
        dedup_jaccard_ngram(spark, sf_dir)
    ).orderBy("doc_id")


def dedup_groups_cc_sql() -> str:
    return f"""
    WITH RECURSIVE jp AS (
      SELECT doc_a, doc_b FROM ({dedup_jaccard_ngram_sql()}) t
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ),
    reach(src, dst) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS group_id
    FROM reach GROUP BY src ORDER BY doc_id
    """


# --- benchmark decontamination ----------------------------------------
#
# Standard training-pipeline hygiene (the GPT-3 / Llama "n-gram
# decontamination" pass): flag training documents whose n-gram content
# overlaps a held-out benchmark/eval set, so eval items don't leak into
# the training corpus. No reference counterpart — brief-scope
# ("operations a large-scale training-data pipeline would need").
#
# Deterministic synthetic setup (no external data): the "benchmark" is
# the md5-roll < DECONTAM_BENCH_PCT slice of the documents table (the
# same cross-engine sampling key the stratified sampler uses), the
# training side is the remaining docs PLUS planted contaminated copies
# (each benchmark doc re-ingested under doc_id+1_000_000 with one
# appended token — a realistic "benchmark text pasted into a web page"
# leak). Natural 3-gram collisions from the shared vocabulary give a
# low background overlap (~2%); planted leaks sit near 100%; the flag
# threshold (overlap ≥ 25% of the doc's distinct shingles) separates
# them with a wide margin and is compared in pure integer arithmetic.
#
# Scale shape (100 TB design point): the benchmark shingle universe is
# tiny (eval sets are ~10⁴-10⁶ items) → broadcast; the training side is
# explode → broadcast-hash semi-join → one hash aggregation on doc_id.
# One shuffle total, no self-join, no cross product.

DECONTAM_BENCH_PCT = 5
DECONTAM_PLANT_OFFSET = 1_000_000


def _decontam_corpus(docs):
    """(benchmark_df, training_df) — deterministic split + planted leaks."""
    roll = _md5_roll(F.col("doc_id"))
    bench = docs.filter(roll < DECONTAM_BENCH_PCT).select("doc_id", "text")
    planted = bench.select(
        (F.col("doc_id") + DECONTAM_PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    train = (
        docs.filter(roll >= DECONTAM_BENCH_PCT)
        .select("doc_id", "text")
        .unionAll(planted)
    )
    return bench, train


def decontaminate_ngram(spark, sf_dir):
    """Training docs contaminated by benchmark n-grams.

    Output: (doc_id, overlap_ngrams, total_ngrams, contam_bps) for every
    training doc whose distinct-3-gram overlap with the benchmark
    shingle universe is ≥ 25% (4·overlap ≥ total), ordered by doc_id.
    ``contam_bps`` = basis points of overlap, integer division (exact
    cross-engine).
    """
    docs = load(spark, sf_dir, "documents")
    bench, train = _decontam_corpus(docs)
    bench_sh = (
        _shingle_df(bench)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
    )
    tr = _shingle_df(train)
    overlap = (
        tr.select("doc_id", F.explode("shingles").alias("sh"))
        .join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_ngrams"))
    )
    return (
        tr.select(
            "doc_id", F.size("shingles").cast("long").alias("total_ngrams")
        )
        .join(overlap, "doc_id")
        .filter(F.col("overlap_ngrams") * 4 >= F.col("total_ngrams"))
        .withColumn(
            "contam_bps",
            F.expr("(10000 * overlap_ngrams) div total_ngrams"),
        )
        .orderBy("doc_id")
    )


def decontaminate_ngram_sql() -> str:
    sh = _shingles_sql(tokens_sql("text"))
    return f"""
    WITH rolls AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               % 100 AS roll
      FROM documents
    ),
    bench AS (
      SELECT doc_id, text FROM rolls WHERE roll < {DECONTAM_BENCH_PCT}
    ),
    train AS (
      SELECT doc_id, text FROM rolls WHERE roll >= {DECONTAM_BENCH_PCT}
      UNION ALL
      SELECT doc_id + {DECONTAM_PLANT_OFFSET}, text || ' zz' FROM bench
    ),
    bsh AS (
      SELECT DISTINCT unnest(list_distinct({sh})) AS sh FROM bench
    ),
    tsh AS (
      SELECT doc_id, list_distinct({sh}) AS shingles FROM train
    ),
    ov AS (
      SELECT doc_id, count(*) AS overlap_ngrams
      FROM (SELECT doc_id, unnest(shingles) AS sh FROM tsh) e
      JOIN bsh USING (sh)
      GROUP BY doc_id
    )
    SELECT t.doc_id, o.overlap_ngrams,
           CAST(len(t.shingles) AS BIGINT) AS total_ngrams,
           (10000 * o.overlap_ngrams) // len(t.shingles) AS contam_bps
    FROM tsh t JOIN ov o USING (doc_id)
    WHERE o.overlap_ngrams * 4 >= len(t.shingles)
    ORDER BY doc_id
    """


SUBSTR_W = 8  # repeated-substring window, in tokens


def dedup_substring_spans(spark, sf_dir, w: int = SUBSTR_W):
    """Cross-document repeated-substring detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" shape, at
    token-shingle granularity): any ``w``-token window whose md5 appears
    in ≥ 2 DISTINCT documents marks its positions as duplicated; per
    document, overlapping/adjacent duplicated windows merge into maximal
    spans. Output per affected doc: span count, duplicated-token total
    (spans are disjoint by construction, so ≤ n_tokens) and the
    duplicated fraction in basis points (integer division, exact
    cross-engine).

    Scale shape: the duplicate test per shingle hash is
    ``min(doc_id) != max(doc_id)`` over a window partitioned by the
    hash — constant state per key, ONE exchange on the hash (round-7:
    the former groupBy + back-join shape shuffled the occurrence table
    twice and re-derived the tokenizer chain for both the second join
    input and the per-doc token counts; n_tokens now rides the
    occurrence rows instead). Span merging is one narrow per-doc window
    over only the duplicated positions; the downstream span/doc
    aggregations reuse the doc window's hashpartitioning(doc_id), so
    the whole tail runs without further exchanges."""
    P = spark.sparkContext.defaultParallelism
    docs = _with_planted_dups(load(spark, sf_dir, "documents"))
    toks_df = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).repartition(P)
    n = F.size("toks")
    hashes = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, w))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = toks_df.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.posexplode(hashes).alias("pos0", "h"),
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "h")
    from pyspark.sql import Window

    wh = Window.partitionBy("h")
    dup_occ = (
        occ.withColumn("mn", F.min("doc_id").over(wh))
        .withColumn("mx", F.max("doc_id").over(wh))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "n_tokens", "pos")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup_occ.withColumn(
        "f",
        F.when(
            F.lag("pos").over(wdoc).isNull()
            | (F.col("pos") - F.lag("pos").over(wdoc) > w),
            1,
        ).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("f").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = flagged.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("p0"),
        F.max("pos").alias("p1"),
        F.first("n_tokens").alias("n_tokens"),
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("p1") - F.col("p0") + w).cast("long").alias("dup_tokens"),
        F.first("n_tokens").alias("n_tokens"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_dup_spans",
        "dup_tokens",
        F.expr("(10000 * dup_tokens) div n_tokens").alias("dup_bps"),
    )


def dedup_substring_spans_sql(w: int = SUBSTR_W) -> str:
    toks = tokens_sql("text")
    return f"""
    WITH tok AS (
      SELECT doc_id, {toks} AS toks FROM {_PLANTED_SQL} AS planted
    ),
    occ AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(list_slice(toks, i, i + {w - 1}), ' ')) AS h
      FROM tok,
           unnest(CASE WHEN len(toks) >= {w}
                       THEN range(1, len(toks) - {w - 1} + 1)
                       ELSE [] END) AS u(i)
    ),
    dup_h AS (
      SELECT h FROM occ GROUP BY h HAVING min(doc_id) != max(doc_id)
    ),
    dup_occ AS (
      SELECT o.doc_id, o.pos FROM occ o JOIN dup_h USING (h)
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w1 IS NULL
                       OR pos - lag(pos) OVER w1 > {w}
                  THEN 1 ELSE 0 END AS f
      FROM dup_occ
      WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)
    ),
    spans AS (
      SELECT doc_id, span_id, min(pos) AS p0, max(pos) AS p1
      FROM (SELECT doc_id, pos,
                   sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
            FROM flagged)
      GROUP BY doc_id, span_id
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_dup_spans,
             CAST(sum(p1 - p0 + {w}) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT p.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           p.n_dup_spans, p.dup_tokens,
           (10000 * p.dup_tokens) // CAST(len(t.toks) AS BIGINT) AS dup_bps
    FROM per_doc p JOIN tok t USING (doc_id)
    """


# ------------------------------------------------------------ SemDeDup
# Semantic dedup in embedding space, the SemDeDup shape (Abbas et al.
# 2023, arXiv:2303.09540): k-means-cluster the corpus so the pairwise
# cosine work is bounded within clusters (n²/k per cluster instead of
# n² global), then inside each cluster greedily keep items scanned
# farthest-from-the-cluster-mean first, dropping any item whose cosine
# to an already-kept member is ≥ 0.95 (the paper's keep-low-centroid-
# similarity policy, made deterministic).
#
# Determinism: the coarse quantizer is the SAME seeded k-means the IVF
# ANN uses (_ivf_train_centroids: md5-roll sample, lowest-vec_id init,
# fixed 5 Lloyd iterations); the greedy scan order is integer-exact —
# distance² to the cluster's own member-mean compared via
# n²·|x|² − 2n·(x·S) + |S|² with S the integer member sum (no float
# division crosses the comparison); the dup test is the integer cosine
# rule the embedding dedup already uses (dot>0 ∧ 400·dot² ≥ 361·na·nb ⇔
# cosine ≥ 0.95). The one float step left is the cluster ASSIGNMENT
# argmin (shared with sim_ivf_topk, same BLAS epistemics) → committed-
# expected-parquet oracle, with the independent anchor in
# tests/test_ops_round5.py (planted exact copies must drop, local numpy
# mirror must agree).
#
# Scale: assignment is a scan-side map against broadcast centroids; the
# greedy is applyInPandas per cluster — the sequential unit is one
# cluster, exactly the unit the paper bounds by choosing k ∝ corpus/
# target-cluster-size. Both halves of that bound are implemented:
# k = n_coarse_clusters(count) grows with the corpus (floor 16, so the
# fixture-scale expected parquet is unchanged), and a mega-cluster that
# the coarse quantizer fails to break up (skewed embedding space) is
# sub-split INSIDE the pandas group by a deterministic second-level
# k-means (lowest-vec_id init, 5 Lloyd iterations) before the greedy
# runs — per-task greedy work is bounded by SEM_MAX_GREEDY rows no
# matter how skewed the space. The int64 order key is exact to ~10^5
# rows per greedy unit (n²·|x|² < 2^63 at this quantization);
# SEM_MAX_GREEDY = 16384 keeps a 6× margin under that AND caps the
# O(n²) unit at ~2.7·10^8 integer dots. Items split apart by the
# second level are never compared — the same approximation the paper's
# first-level clustering already makes.

_SEM_T = (400, 361)  # cosine ≥ 0.95, same rational rule as _COS_T
SEM_MAX_GREEDY = 16384


def _sem_split_units(
    X: np.ndarray, ids: np.ndarray, max_rows: int
) -> list[np.ndarray]:
    """Bound the greedy unit: split an oversized coarse cluster into
    index groups of ≤ max_rows via a deterministic second-level k-means
    (k₂ = ⌈2n/max_rows⌉ centroids initialized from the lowest-vec_id
    members, 5 Lloyd iterations in float64, argmin ties to lowest
    index — the same spec as the coarse quantizer). A sub-cluster
    Lloyd's still leaves over the cap is chunked in vec_id order (the
    deterministic last resort for pathologically concentrated spaces).
    Identical vectors always share a sub-cluster (identical distance
    rows → identical argmin), so exact copies still dedup."""
    n = len(ids)
    if n <= max_rows:
        return [np.arange(n)]
    k2 = min(n, -(-2 * n // max_rows))
    order = np.argsort(ids)
    cent = X[order[:k2]].astype(np.float64)
    Xf = X.astype(np.float64)
    for _ in range(5):
        d2 = (
            (Xf * Xf).sum(axis=1)[:, None]
            - 2.0 * (Xf @ cent.T)
            + (cent * cent).sum(axis=1)[None, :]
        )
        assign = d2.argmin(axis=1)
        for c in range(k2):
            members = Xf[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    units: list[np.ndarray] = []
    for c in range(k2):
        m = np.nonzero(assign == c)[0]
        if len(m) == 0:
            continue
        if len(m) <= max_rows:
            units.append(m)
        else:
            mo = m[np.argsort(ids[m])]
            units.extend(
                mo[s:s + max_rows] for s in range(0, len(mo), max_rows)
            )
    return units


def dedup_semantic(spark, sf_dir, max_greedy: int = SEM_MAX_GREEDY):
    """SemDeDup over the planted embedding corpus: (vec_id, cluster,
    kept, kept_by, n_clusters) for every vector; kept_by = the kept
    member that evicted a dropped one (null for keepers); n_clusters
    records the corpus-derived coarse-quantizer k (the determinism
    contract: k comes from an exact count, and the output says which k
    produced it). Non-SQL-expressible (iterative k-means + sequential
    greedy) → expected-parquet oracle."""
    from .similarity import (
        _ivf_train_centroids, n_coarse_clusters, quantizer_sample_cap,
    )

    q = _emb_quantized(spark, sf_dir).cache()
    k = n_coarse_clusters(q.count())
    roll = (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 100
    )
    sample = (
        q.filter(roll < 50)
        .select("vec_id", "qv")
        .orderBy("vec_id")
        # bounded driver materialization at any corpus size, scaled to
        # the centroid count (similarity.quantizer_sample_cap)
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

    t_num, t_den = _SEM_T

    def _greedy_unit(X, ids, n2):
        """Greedy keep/drop over one bounded unit (≤ max_greedy rows):
        farthest-from-member-mean-first scan, integer-exact order key
        and cosine rule. Returns (kept bool, kept_by int64 with -1)."""
        n = len(ids)
        S = X.sum(axis=0)
        # integer-exact distance² to the member mean, scaled by n²
        d2n = n * n * n2 - 2 * n * (X @ S) + int(S @ S)
        scan = np.lexsort((ids, -d2n))  # farthest first, vec_id tiebreak
        kept_rows: list[int] = []
        kept_by = np.full(n, -1, dtype=np.int64)
        kept = np.zeros(n, dtype=bool)
        for i in scan:
            if kept_rows:
                K = X[kept_rows]
                dots = K @ X[i]
                dup = (dots > 0) & (
                    t_num * dots * dots >= t_den * n2[kept_rows] * n2[i]
                )
                hits = np.nonzero(dup)[0]
                if len(hits):
                    kept_by[i] = ids[kept_rows[hits[0]]]
                    continue
            kept_rows.append(i)
            kept[i] = True
        return kept, kept_by

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
        ids = pdf["vec_id"].to_numpy()
        n2 = pdf["norm2"].to_numpy().astype(np.int64)
        kept = np.zeros(len(ids), dtype=bool)
        kept_by = np.full(len(ids), -1, dtype=np.int64)
        for m in _sem_split_units(X, ids, max_greedy):
            km, kb = _greedy_unit(X[m], ids[m], n2[m])
            kept[m] = km
            kept_by[m] = kb
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].to_numpy(),
                "kept": kept,
                "kept_by": [None if kk else int(b)
                            for kk, b in zip(kept, kept_by)],
                "n_clusters": np.full(len(ids), k, dtype=np.int32),
            }
        )

    return (
        assigned.groupBy("cluster")
        .applyInPandas(
            _greedy,
            "vec_id long, cluster int, kept boolean, kept_by long, "
            "n_clusters int",
        )
        .orderBy("vec_id")
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_jaccard_ngram": dedup_jaccard_ngram,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_recall": dedup_embedding_recall,
    "dedup_groups_cc": dedup_groups_cc,
    "dedup_substring_spans": dedup_substring_spans,
    "decontaminate_ngram": decontaminate_ngram,
    "dedup_semantic": dedup_semantic,
}

ORACLES = {
    "dedup_exact": dedup_exact_sql(),
    "dedup_minhash_lsh": dedup_minhash_lsh_sql(),
    "dedup_simhash": dedup_simhash_sql(),
    "dedup_jaccard_ngram": dedup_jaccard_ngram_sql(),
    "dedup_embedding_cosine": dedup_embedding_cosine_sql(),
    "dedup_embedding_recall": dedup_embedding_recall_sql(),
    "dedup_groups_cc": dedup_groups_cc_sql(),
    "dedup_substring_spans": dedup_substring_spans_sql(),
    "decontaminate_ngram": decontaminate_ngram_sql(),
}
