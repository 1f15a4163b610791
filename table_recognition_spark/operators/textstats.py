"""Text analysis for a training-data pipeline over the ``documents`` table:
language ID (stopword heuristic), quality scoring, token counting,
document fingerprinting, repetition/PII quality filters, chunking,
sequence packing, length profiling. JVM-side ``pyspark.sql.functions``
(whole-stage codegen) everywhere except the one inherently-sequential
op — greedy sequence packing, one Arrow batch per (source, shard)
group. Each query has an exact DuckDB oracle (integer-exact or
identically-shaped double expressions).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import NORM_SQL, load, norm_text, tokens, tokens_sql

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]


def doc_stats(spark, sf_dir):
    """Per-document stats: token counts, punctuation/stopword ratios,
    a composite quality score, n-gram-heuristic language ID, md5
    fingerprint of the normalized text."""
    docs = load(spark, sf_dir, "documents")
    norm = norm_text(F.col("text"))
    toks = tokens(F.col("text"))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS))
    )
    n_chars = F.length(norm)
    punct = F.length(F.regexp_replace(norm, "[a-z0-9 ]", ""))
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_norm"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        punct.alias("punct_count"),
        stop_hits.alias("stop_hits"),
        F.when(stop_hits >= 2, F.lit("en")).otherwise(F.lit("unknown")).alias(
            "lang_pred"
        ),
        F.round(
            (stop_hits * 1.0 / F.greatest(n_tokens, F.lit(1))) * 0.5
            + (1.0 - punct * 1.0 / F.greatest(n_chars, F.lit(1))) * 0.5,
            6,
        ).alias("quality_score"),
        F.md5(norm).alias("fingerprint"),
    )


def doc_stats_sql() -> str:
    norm = NORM_SQL.format(c="text")
    toks = tokens_sql("text")
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    SELECT doc_id,
           length({norm}) AS n_chars_norm,
           len({toks}) AS n_tokens,
           len(list_distinct({toks})) AS n_distinct_tokens,
           length(regexp_replace({norm}, '[a-z0-9 ]', '', 'g')) AS punct_count,
           len(list_filter({toks}, t -> t IN ({stops}))) AS stop_hits,
           CASE WHEN len(list_filter({toks}, t -> t IN ({stops}))) >= 2
                THEN 'en' ELSE 'unknown' END AS lang_pred,
           round((len(list_filter({toks}, t -> t IN ({stops}))) * 1.0
                  / greatest(len({toks}), 1)) * 0.5
                 + (1.0 - length(regexp_replace({norm}, '[a-z0-9 ]', '', 'g')) * 1.0
                    / greatest(length({norm}), 1)) * 0.5, 6) AS quality_score,
           md5({norm}) AS fingerprint
    FROM documents
    """


def token_topk(spark, sf_dir, k: int = 20):
    """Corpus token frequency top-k (count desc, token asc)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


def token_topk_sql(k: int = 20) -> str:
    return f"""
    SELECT token, count(*) AS n
    FROM (SELECT unnest({tokens_sql('text')}) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT {k}
    """


def rolling_fingerprint(spark, sf_dir, window: int = 8):
    """Document fingerprinting via a rolling window: md5 of each
    ``window``-token shingle, keeping the lexicographic minimum per doc
    (a winnowing-style signature). Pure built-ins. ``toks`` is staged
    with ``withColumn`` so the per-shingle lambda slices a materialized
    array instead of re-tokenizing the text once per shingle."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    toks = F.col("toks")
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (window - 1), F.lit(1))),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(toks, i, window))
        ),
    )
    return docs.select(
        "doc_id",
        F.array_min(shingles).alias("min_shingle_fp"),
        n.alias("n_tokens"),
    )


def rolling_fingerprint_sql(window: int = 8) -> str:
    toks = tokens_sql("text")
    return f"""
    SELECT doc_id,
           list_min(list_transform(
               range(1, greatest(len({toks}) - {window - 1}, 1) + 1),
               i -> md5(array_to_string(list_slice({toks}, i, i + {window - 1}), ' '))
           )) AS min_shingle_fp,
           len({toks}) AS n_tokens
    FROM documents
    """


WINNOW_K = 5  # k-gram size (tokens)
WINNOW_W = 4  # winnowing window; guarantee threshold t = w + k - 1
# encode (hash, pos) as hash*POS_BASE + pos. Headroom proof: hash is 32
# bits (first 8 md5 hex digits), so enc_max = (2^32-1)*1e9 + pos ≈
# 4.3e18 < 2^63 ≈ 9.2e18 while pos < 1e9 — a position bound of a
# BILLION tokens per document (a >4 GB text row, impossible long before
# the encoding breaks). tests/test_ops_round5.py pins the arithmetic.
POS_BASE = 1_000_000_000


def _winnow_selected(docs, k: int, w: int):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k-token gram, slide a w-hash window,
    select the minimum hash per window (leftmost on ties), dedup the
    selected (hash, pos) pairs per document. Any shared token run of
    length >= w + k - 1 between two documents is guaranteed to share a
    selected hash.

    (hash, pos) is encoded as one BIGINT ``hash*POS_BASE + pos`` so a
    plain integer ``array_min`` per window is exactly (min hash,
    leftmost pos) — bit-identical in Spark and DuckDB. Pure built-ins;
    map-only, never leaves the input partition. Staged ``withColumn``s
    keep the hash array materialized once (CollapseProject won't inline
    a non-cheap producer used per-window)."""
    toks = tokens(F.col("text"))
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(F.col("toks")) - (k - 1), F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, k))), 1, 8),
            16,
            10,
        ).cast("long")
        * POS_BASE
        + i,
    )
    selected = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(F.col("kgram_h")) - (w - 1), F.lit(1)),
                ),
                lambda j: F.array_min(F.slice(F.col("kgram_h"), j, w)),
            )
        )
    )
    return (
        docs.withColumn("toks", toks)
        .withColumn("kgram_h", hashes)
        .withColumn("selected", selected)
    )


def winnow_fingerprints(spark, sf_dir, k: int = WINNOW_K, w: int = WINNOW_W):
    """Per-document winnowing signature: fingerprint count, the minimum
    encoded (hash,pos) fingerprint, and an md5 digest of the sorted
    fingerprint set (compact cross-engine value check)."""
    docs = load(spark, sf_dir, "documents")
    return _winnow_selected(docs, k, w).select(
        "doc_id",
        F.size("selected").alias("n_fingerprints"),
        F.element_at("selected", 1).alias("min_fp_encoded"),
        F.md5(
            F.concat_ws(",", F.transform("selected", lambda x: x.cast("string")))
        ).alias("fp_digest"),
    )


def winnow_fingerprints_sql(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    toks = tokens_sql("text")
    return f"""
    WITH hashed AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len({toks}) - {k - 1}, 1) + 1),
               i -> ('0x' || substr(md5(array_to_string(
                        list_slice({toks}, i, i + {k - 1}), ' ')), 1, 8))::BIGINT
                    * {POS_BASE} + i
             ) AS kgram_h
      FROM documents
    ),
    sel AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(kgram_h) - {w - 1}, 1) + 1),
               j -> list_min(list_slice(kgram_h, j, j + {w - 1}))
             ))) AS selected
      FROM hashed
    )
    SELECT doc_id,
           len(selected) AS n_fingerprints,
           selected[1] AS min_fp_encoded,
           md5(array_to_string(list_transform(selected, x -> x::VARCHAR), ','))
             AS fp_digest
    FROM sel
    """


def dom_main_block(spark, sf_dir):
    """DOM-heuristic main-content classifier (boilerpipe-style signals)
    over templated HTML-ish documents: per document, the block-level
    link density, tag density, and text share of the <div>/<p> main
    block vs the boilerplate wrappers — the features a density-based
    main-content extractor thresholds on. Pure JVM regexps."""
    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<nav><a href='/'>home</a> <a href='/x'>about</a></nav><div><p>"),
        F.col("text"),
        F.lit("</p></div><footer><a href='/tos'>terms</a></footer>"),
    )
    n_tags = F.size(F.split(html, "<")) - 1
    n_links = F.size(F.split(html, "<a ")) - 1
    full_len = F.length(html)
    main = F.regexp_extract(html, "(?s)<div>(.*)</div>", 1)
    main_text = F.trim(F.regexp_replace(main, "(?s)<[^>]*>", " "))
    return docs.select(
        "doc_id",
        n_tags.alias("n_tags"),
        n_links.alias("n_links"),
        F.round(n_links * 1.0 / F.greatest(n_tags, F.lit(1)), 6).alias(
            "link_density"
        ),
        F.round(n_tags * 1.0 / F.greatest(full_len, F.lit(1)), 6).alias(
            "tag_density"
        ),
        F.length(main_text).alias("main_len"),
        F.round(
            F.length(main_text) * 1.0 / F.greatest(full_len, F.lit(1)), 6
        ).alias("main_share"),
        F.md5(main_text).alias("main_fp"),
    )


def dom_main_block_sql() -> str:
    html = ("'<nav><a href=''/''>home</a> <a href=''/x''>about</a></nav>"
            "<div><p>' || text || '</p></div>"
            "<footer><a href=''/tos''>terms</a></footer>'")
    return f"""
    WITH h AS (SELECT doc_id, {html} AS html FROM documents),
    f AS (
      SELECT doc_id, html,
             len(string_split(html, '<')) - 1 AS n_tags,
             len(string_split(html, '<a ')) - 1 AS n_links,
             length(html) AS full_len,
             trim(regexp_replace(
                 regexp_extract(html, '(?s)<div>(.*)</div>', 1),
                 '(?s)<[^>]*>', ' ', 'g')) AS main_text
      FROM h
    )
    SELECT doc_id, n_tags, n_links,
           round(n_links * 1.0 / greatest(n_tags, 1), 6) AS link_density,
           round(n_tags * 1.0 / greatest(full_len, 1), 6) AS tag_density,
           length(main_text) AS main_len,
           round(length(main_text) * 1.0 / greatest(full_len, 1), 6)
               AS main_share,
           md5(main_text) AS main_fp
    FROM f
    """


SAMPLE_RATES = {"high": 100, "mid": 50, "low": 10}  # percent kept


def sample_stratified(spark, sf_dir):
    """Deterministic quality-stratified sampling — the data-mixing
    primitive of a training pipeline: bucket documents by quality score,
    keep each bucket at its configured rate, with the keep decision a
    pure function of doc_id (first 4 hex digits of md5 → % 100 < rate).
    Deterministic ⇒ reproducible mixes, idempotent re-runs, and an exact
    cross-engine oracle; at scale the hash test is a codegen'd scan-side
    filter, no shuffle at all."""
    stats = doc_stats(spark, sf_dir)
    bucket = (
        F.when(F.col("quality_score") >= 0.55, F.lit("high"))
        .when(F.col("quality_score") >= 0.45, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    roll = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long") % 100
    rate = (
        F.when(bucket == "high", F.lit(SAMPLE_RATES["high"]))
        .when(bucket == "mid", F.lit(SAMPLE_RATES["mid"]))
        .otherwise(F.lit(SAMPLE_RATES["low"]))
    )
    return (
        stats.select(
            "doc_id", bucket.alias("bucket"), roll.alias("roll"),
            "quality_score",
        )
        .filter(F.col("roll") < rate)
        .select("doc_id", "bucket", "quality_score")
        .orderBy("doc_id")
    )


def sample_stratified_sql() -> str:
    return f"""
    WITH stats AS ({doc_stats_sql()}),
    b AS (
      SELECT doc_id, quality_score,
             CASE WHEN quality_score >= 0.55 THEN 'high'
                  WHEN quality_score >= 0.45 THEN 'mid'
                  ELSE 'low' END AS bucket,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                 % 100 AS roll
      FROM stats
    )
    SELECT doc_id, bucket, quality_score
    FROM b
    WHERE roll < CASE bucket WHEN 'high' THEN {SAMPLE_RATES['high']}
                             WHEN 'mid' THEN {SAMPLE_RATES['mid']}
                             ELSE {SAMPLE_RATES['low']} END
    ORDER BY doc_id
    """


WEIGHTED_SAMPLE_K = 100
_PRI_SCALE = 1_000_000


def sample_weighted(spark, sf_dir):
    """Weighted sampling WITHOUT replacement — the other half of the
    mixing toolbox next to :func:`sample_stratified`: keep a fixed-size
    sample where a document's inclusion odds scale with its token count
    (the priority-sampling shape of Duffield et al., "Priority sampling
    for estimation of arbitrary subset sums").  Each document draws a
    deterministic md5-derived 32-bit uniform and competes with priority
    u/weight; the k smallest priorities win, so heavier documents
    (smaller priorities) are proportionally favored.  Integer respec
    for the cross-engine gate: priority = (h * 1e6) div weight as
    BIGINT (h < 2^32, so the product stays under 2^52) — no float
    division to disagree on.  Order-independent (a pure function of
    each row), so re-runs and resumes pick the identical sample; at
    scale the global top-k is a per-partition TakeOrdered plus a k-row
    driver merge, no full sort, no shuffle of losers."""
    from .common import load, tokens

    docs = load(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16, 10,
        ).cast("long").alias("h"),
    ).select(
        "doc_id", "n_tokens",
        F.expr(f"(h * {_PRI_SCALE}) div greatest(n_tokens, 1)")
        .cast("long").alias("priority"),
    )
    return staged.orderBy("priority", "doc_id").limit(WEIGHTED_SAMPLE_K)


def sample_weighted_sql() -> str:
    toks = tokens_sql("text")
    return f"""
    SELECT doc_id, n_tokens, (h * {_PRI_SCALE}) // greatest(n_tokens, 1)
               AS priority
    FROM (
      SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 AS h
      FROM documents
    )
    ORDER BY priority, doc_id LIMIT {WEIGHTED_SAMPLE_K}
    """


# --- BM25-shaped retrieval ---------------------------------------------
#
# Inverted-index text retrieval: rank documents against a query-term
# set with a BM25-shaped score. Deviation from textbook BM25, by
# design: the idf log is replaced by its rational argument
# (2(N-df)+1)/(2df+1) — same monotonicity in df, but the whole score
# stays in integer arithmetic (scaled micro-units, truncating integer
# division), so Spark and DuckDB agree bit-for-bit; a float ln differs
# across libm implementations at the ULP and can flip a top-k ordering.
#
# Scale shape (100 TB design point): the corpus-wide work is ONE
# explode + groupBy(doc_id) for document lengths (the same shuffle
# doc_stats pays); the query-term tf aggregation filters the token
# stream to |q| terms BEFORE its groupBy, so its shuffle carries only
# matching postings; df/idf (|q| rows) and the corpus scalars (1 row)
# ride along as broadcasts. No per-query rescan of text, no UDFs.

BM25_K1_M = 1200  # k1 = 1.2, milli-scaled
BM25_B_M = 750  # b = 0.75, milli-scaled
BM25_QUERY_TERMS = ["table", "scan", "join", "window"]
BM25_TOPK = 20


def bm25_topk(spark, sf_dir, terms=None, k: int = BM25_TOPK):
    """Top-k docs for a query-term set under the rational-idf BM25
    respec (see module comment). Output: (doc_id, n_terms_hit,
    score_micro), score descending then doc_id."""
    terms = terms or BM25_QUERY_TERMS
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.expr("(1000 * sum(dl)) div count(*)").alias("avgdl_m"),
    )
    tf = (
        tok.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = (
        df_t.crossJoin(F.broadcast(stats))
        .select(
            "token",
            F.expr(
                "(1000000 * (2 * (n_docs - df) + 1)) div (2 * df + 1)"
            ).alias("idf_micro"),
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(idf), "token")
        .withColumn(
            "x_m",
            F.expr(
                f"(1000 - {BM25_B_M}) + ({BM25_B_M} * 1000 * dl) div avgdl_m"
            ),
        )
        .withColumn(
            "den_m",
            F.expr(f"1000 * tf + ({BM25_K1_M} * x_m) div 1000"),
        )
        .withColumn(
            "contrib",
            F.expr(
                f"(idf_micro * ((1000000 * tf * ({BM25_K1_M} + 1000))"
                " div (1000 * den_m))) div 1000000"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms_hit"),
            F.sum("contrib").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(k)
    )


def bm25_topk_sql(terms=None, k: int = BM25_TOPK) -> str:
    terms = terms or BM25_QUERY_TERMS
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n_docs, (1000 * sum(dl)) // count(*) AS avgdl_m
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok
      WHERE token IN ({tlist}) GROUP BY doc_id, token
    ),
    idf AS (
      SELECT token,
             (1000000 * (2 * (s.n_docs - df) + 1)) // (2 * df + 1)
               AS idf_micro
      FROM (SELECT token, count(*) AS df FROM tf GROUP BY token), stats s
    ),
    scored AS (
      SELECT tf.doc_id,
             (idf.idf_micro *
              ((1000000 * tf.tf * ({BM25_K1_M} + 1000)) //
               (1000 * (1000 * tf.tf +
                ({BM25_K1_M} * ((1000 - {BM25_B_M}) +
                 ({BM25_B_M} * 1000 * dl.dl) // s.avgdl_m)) // 1000))))
             // 1000000 AS contrib
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
      JOIN idf ON tf.token = idf.token, stats s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(sum(contrib) AS BIGINT) AS score_micro
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id LIMIT {k}
    """


# --- repetition-based quality filter -----------------------------------
#
# The Gopher/MassiveText repetition rules (Rae et al. 2021, Table A1):
# flag documents dominated by repeated n-grams. Implemented on 2-grams:
# top-2-gram share (count of the most frequent bigram / total bigrams)
# and duplicate-2-gram fraction (share of bigram occurrences whose
# bigram appears more than once). Both in basis points via truncating
# integer division — exact cross-engine.
#
# The testdata corpus is seeded word soup with no heavy repetition, so
# the operator plants repetitive docs deterministically (every 13th
# doc's text becomes its own first-6-token phrase repeated 10×) —
# mirroring the dedup operators' planted-corpus pattern. Flag rule:
# top-2-gram share ≥ 10% (planted ≈ 17%, natural ≈ 4-6%).
#
# Scale shape: explode bigrams → ONE hash aggregation on
# (doc_id, bigram) → ONE on doc_id. Both shuffles are keyed by doc
# (never by bigram globally), so hot bigrams don't skew; no join at all.

REPETITION_PLANT_MOD = 13
REPETITION_FLAG_BP = 1000  # top-2-gram share ≥ 10%


def _with_planted_repetition(docs):
    toks = tokens(F.col("text"))
    phrase = F.concat_ws(" ", F.slice(toks, 1, 6))
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % REPETITION_PLANT_MOD == 0,
            F.trim(F.repeat(F.concat(phrase, F.lit(" ")), 10)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def repetition_filter(spark, sf_dir):
    """Docs flagged by the top-2-gram repetition rule. Output:
    (doc_id, n_bigrams, top_bigram_n, dup_bigram_bp), doc_id order.

    The repartition barrier after tokenization pins evaluation order
    (plant + regex once per row → shuffle → slice/concat per bigram):
    without it CollapseProject inlines the tokenizer into the Generate
    and re-runs the regex once per exploded bigram (measured 6.0 s →
    ~1 s at sf0.1, the same pitfall dedup's shingle stage documents)."""
    docs = _with_planted_repetition(load(spark, sf_dir, "documents"))
    from .dedup import _shingles

    P = docs.sparkSession.sparkContext.defaultParallelism
    tok_df = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).repartition(P)
    big = tok_df.select(
        "doc_id",
        F.explode(_shingles(F.col("toks"), 2)).alias("bigram"),
    )
    per_bigram = big.groupBy("doc_id", "bigram").agg(
        F.count("*").alias("n")
    )
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.max("n").alias("top_bigram_n"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias(
            "dup_n"
        ),
    )
    return (
        per_doc.filter(
            (F.col("top_bigram_n") > 1)  # a bigram must actually repeat
            & (
                F.col("top_bigram_n") * 10000
                >= F.col("n_bigrams") * REPETITION_FLAG_BP
            )
        )
        .select(
            "doc_id",
            "n_bigrams",
            "top_bigram_n",
            F.expr("(10000 * dup_n) div n_bigrams").alias("dup_bigram_bp"),
        )
        .orderBy("doc_id")
    )


def repetition_filter_sql() -> str:
    from .dedup import _shingles_sql

    toks = tokens_sql("text")
    return f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % {REPETITION_PLANT_MOD} = 0
                  THEN trim(repeat(
                         array_to_string(list_slice({toks}, 1, 6), ' ')
                         || ' ', 10))
                  ELSE text END AS text
      FROM documents
    ),
    big AS (
      SELECT doc_id, unnest({_shingles_sql(tokens_sql('text'), 2)}) AS bigram
      FROM planted
    ),
    per_bigram AS (
      SELECT doc_id, bigram, count(*) AS n FROM big GROUP BY doc_id, bigram
    ),
    per_doc AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
             CAST(max(n) AS BIGINT) AS top_bigram_n,
             CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_n
      FROM per_bigram GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, top_bigram_n,
           (10000 * dup_n) // n_bigrams AS dup_bigram_bp
    FROM per_doc
    WHERE top_bigram_n > 1
      AND top_bigram_n * 10000 >= n_bigrams * {REPETITION_FLAG_BP}
    ORDER BY doc_id
    """


# --- PII redaction ------------------------------------------------------
#
# A training corpus must scrub emails / phone numbers / IP addresses
# before the text reaches a model. Pure JVM `regexp_replace` /
# `regexp_extract_all` chain — whole-stage codegen, no Python, map-only
# (the single shuffle is the deterministic output orderBy, which a
# production run drops). The regexes use only character classes and
# bounded quantifiers so Java (Spark) and RE2 (DuckDB) agree exactly;
# both engines count non-overlapping leftmost matches.
#
# The seeded corpus contains no PII, so every 11th doc gets a
# deterministic (email, phone, IP) triple derived from doc_id appended —
# the same planted-corpus pattern as the dedup/repetition operators.
# Counts are measured per-category on the pre-scrub text; the scrub
# itself replaces email → phone → IP in that fixed order.

PII_PLANT_MOD = 11
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
IPV4_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"


def _with_planted_pii(docs):
    did = F.col("doc_id")
    pii = F.concat(
        F.lit(" contact u"),
        did.cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."),
        (did % 256).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.when(did % PII_PLANT_MOD == 0, F.concat(F.col("text"), pii))
        .otherwise(F.col("text"))
        .alias("text"),
    )


def pii_scrub(spark, sf_dir):
    """Docs with ≥1 redaction: per-category match counts plus the md5 of
    the scrubbed text (email→<EMAIL>, phone→<PHONE>, IP→<IP>)."""
    docs = _with_planted_pii(load(spark, sf_dir, "documents"))
    t = F.col("text")
    n_email = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
    n_phone = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0))
    n_ip = F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), 0))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )
    return (
        docs.select(
            "doc_id",
            n_email.alias("n_email"),
            n_phone.alias("n_phone"),
            n_ip.alias("n_ip"),
            F.md5(scrubbed).alias("scrubbed_md5"),
        )
        .filter(F.col("n_email") + F.col("n_phone") + F.col("n_ip") > 0)
        .orderBy("doc_id")
    )


def pii_scrub_sql() -> str:
    return f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % {PII_PLANT_MOD} = 0
                  THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || '-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  ELSE text END AS text
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_email,
             len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phone,
             len(regexp_extract_all(text, '{IPV4_RE}')) AS n_ip,
             md5(regexp_replace(regexp_replace(regexp_replace(
                   text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g'),
                   '{IPV4_RE}', '<IP>', 'g')) AS scrubbed_md5
      FROM planted
    )
    SELECT * FROM scored
    WHERE n_email + n_phone + n_ip > 0
    ORDER BY doc_id
    """


# --- fixed-size chunking with overlap -----------------------------------
#
# Context-window packing: split each document into CHUNK_SIZE-token
# chunks on a CHUNK_STRIDE-token stride (CHUNK_SIZE - CHUNK_STRIDE
# tokens of overlap). Chunk starts are 1, 1+S, 2S+1, ... up to
# max(n_tokens - overlap, 1), so every token lands in ≥1 chunk and no
# degenerate all-overlap tail chunk is emitted. Map-only: tokenize →
# sequence() of starts → posexplode → slice; the only shuffle is the
# deterministic output orderBy. At 100 TB this is the shape you want —
# chunking never leaves the input partition.

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_fixed(spark, sf_dir):
    """One row per (doc, chunk): chunk_id, token count, md5 of the
    space-joined chunk text."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    overlap = CHUNK_SIZE - CHUNK_STRIDE
    t = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        "toks",
        F.sequence(
            F.lit(1),
            F.greatest(F.size("toks") - F.lit(overlap), F.lit(1)),
            F.lit(CHUNK_STRIDE),
        ).alias("starts"),
    )
    return (
        t.select(
            "doc_id",
            "toks",
            F.posexplode("starts").alias("chunk_id", "start"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size(F.slice("toks", F.col("start"), F.lit(CHUNK_SIZE))).alias(
                "n_chunk_tokens"
            ),
            F.md5(
                F.concat_ws(
                    " ", F.slice("toks", F.col("start"), F.lit(CHUNK_SIZE))
                )
            ).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def chunk_fixed_sql() -> str:
    toks = tokens_sql("text")
    overlap = CHUNK_SIZE - CHUNK_STRIDE
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(
               1, greatest(len(toks) - {overlap}, 1), {CHUNK_STRIDE}
             )) AS start
      FROM t
    )
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
           len(list_slice(toks, start, start + {CHUNK_SIZE} - 1))
             AS n_chunk_tokens,
           md5(array_to_string(
                 list_slice(toks, start, start + {CHUNK_SIZE} - 1), ' '))
             AS chunk_md5
    FROM starts
    ORDER BY doc_id, chunk_id
    """


# --- sequence packing ---------------------------------------------------
#
# Pretraining context-window packing: greedily pack documents (in
# doc_id order) into bins of ≤ PACK_BUDGET tokens, a new bin whenever
# the next doc would overflow a non-empty bin. Packing is inherently
# sequential, so the unit of sequential work is made explicit in the
# semantics: docs are packed independently per (source, shard) with
# shard = doc_id % PACK_SHARDS — embarrassingly parallel across shards,
# and at 100 TB you raise PACK_SHARDS until a shard's doc list fits one
# task. Spark runs one Arrow batch per group (`applyInPandas`, numpy
# arrays, one O(n) scan — the documented scalar loop; a numba/cython
# kernel is the drop-in seam). The DuckDB oracle replays the same
# recurrence as a recursive CTE.

PACK_BUDGET = 512
PACK_SHARDS = 4

_PACK_SCHEMA = (
    "doc_id long, source string, shard int, n_tokens long, bin_id long"
)


def _pack_group(pdf):
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    nt = pdf["n_tokens"].to_numpy(np.int64)
    bins = np.empty(len(nt), np.int64)
    fill, b = 0, 0
    for i, t in enumerate(nt):
        if fill > 0 and fill + t > PACK_BUDGET:
            b += 1
            fill = t
        else:
            fill += t
        bins[i] = b
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "source": pdf["source"],
            "shard": pdf["shard"],
            "n_tokens": nt,
            "bin_id": bins,
        }
    )


def pack_sequences(spark, sf_dir):
    """One row per doc: its greedy token-packing bin within
    (source, shard = doc_id % PACK_SHARDS), budget PACK_BUDGET."""
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return (
        sized.groupBy("source", "shard")
        .applyInPandas(_pack_group, _PACK_SCHEMA)
        .orderBy("doc_id")
    )


def pack_sequences_sql() -> str:
    toks = tokens_sql("text")
    return f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, source,
             CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
             CAST(len({toks}) AS BIGINT) AS n_tokens,
             row_number() OVER (
               PARTITION BY source, doc_id % {PACK_SHARDS}
               ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT doc_id, source, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.shard, t.n_tokens, t.rn,
             CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {PACK_BUDGET}
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {PACK_BUDGET}
                  THEN t.n_tokens ELSE p.fill + t.n_tokens END
      FROM t
      JOIN packed p
        ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, shard, n_tokens, bin_id
    FROM packed
    ORDER BY doc_id
    """


# --- corpus length profile ----------------------------------------------
#
# Per-source token-length quantiles for corpus profiling / filter-
# threshold tuning. Exact discrete quantiles by rank selection (the
# value at 0-based rank floor((n-1)·p) under (n_tokens, doc_id) order)
# — NOT engine-native percentile functions, whose interpolation rules
# differ across engines. One narrow shuffle keyed by source for the
# window rank, one tiny aggregate. At 100 TB the per-source window sort
# is the cost; sources are few and the sorted payload is one long per
# doc, so this is a classic totally-skewed-but-tiny analytics query —
# for a pathological single mega-source you'd swap in a two-level
# rank-sketch — sketch.histogram_quantiles is that drop-in (mergeable
# (source, bin) counts, no per-source sort), at < 2x bound resolution.

QUANTILES_BP = (2500, 5000, 7500, 9500)


def length_quantiles(spark, sf_dir):
    """Per source: doc count and exact p25/p50/p75/p95 token counts."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    ranked = sized.select(
        "source",
        "n_tokens",
        (F.row_number().over(w) - 1).alias("rk"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    aggs = [F.count("*").alias("n_docs")]
    for bp in QUANTILES_BP:
        aggs.append(
            F.max(
                F.when(
                    F.col("rk") == F.expr(f"((n - 1) * {bp}) div 10000"),
                    F.col("n_tokens"),
                )
            ).alias(f"p{bp // 100}")
        )
    return (
        ranked.groupBy("source")
        .agg(*aggs)
        .orderBy("source")
    )


def length_quantiles_sql() -> str:
    toks = tokens_sql("text")
    cols = ",\n           ".join(
        f"max(CASE WHEN rk = ((n - 1) * {bp}) // 10000 THEN n_tokens END)"
        f" AS p{bp // 100}"
        for bp in QUANTILES_BP
    )
    return f"""
    WITH sized AS (
      SELECT doc_id, source, len({toks}) AS n_tokens FROM documents
    ),
    ranked AS (
      SELECT source, n_tokens,
             row_number() OVER (
               PARTITION BY source ORDER BY n_tokens, doc_id) - 1 AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM sized
    )
    SELECT source, count(*) AS n_docs,
           {cols}
    FROM ranked
    GROUP BY source
    ORDER BY source
    """


# --- corpus mixing by per-source quota ----------------------------------
#
# The second data-mixing primitive (complementing the rate-based
# quality-stratified sampler): hit an exact per-source document COUNT.
# Each source's docs are ranked by md5(doc_id:source) — a deterministic
# shuffle-order so re-runs and engines agree — and the top quota_s
# survive. Quotas here follow a 3-cycle over the source index
# (20/15/10 docs), standing in for a configured mixture table; in
# production the quota map is a broadcast dimension. One narrow
# shuffle for the per-source window rank, nothing else.

MIX_QUOTA_BASE = 20
MIX_QUOTA_STEP = 5


def mix_by_source(spark, sf_dir):
    """Exactly quota(source) docs per source, chosen by md5 rank.
    Output: (doc_id, source, rk), doc_id order."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    )
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    quota = MIX_QUOTA_BASE - (
        F.substring("source", 4, 10).cast("int") % 3
    ) * MIX_QUOTA_STEP
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= quota)
        .orderBy("doc_id")
    )


def mix_by_source_sql() -> str:
    return f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || source),
                        doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, source, rk
    FROM ranked
    WHERE rk <= {MIX_QUOTA_BASE}
               - (CAST(substring(source, 4, 10) AS INT) % 3)
                 * {MIX_QUOTA_STEP}
    ORDER BY doc_id
    """


CLS_BUCKETS = 256  # hashed-feature dimensionality


def quality_classifier(spark, sf_dir, buckets: int = CLS_BUCKETS):
    """fastText-shaped linear quality classifier over hashed token
    features: each token hashes (md5) into one of ``buckets`` feature
    buckets; the "trained" weight of bucket b is derived from
    md5('w' || b) in fixed-point milli units (so both engines can
    materialize the identical model with no side-channel weight file);
    a document's score is the integer mean of its tokens' bucket
    weights, and the keep/drop label thresholds it at 0.

    Scale shape: entirely map-side (one HOF ``aggregate`` per row inside
    whole-stage codegen — no explode, no shuffle, no UDF); the model
    lives in the expression tree. A real trained model swaps the
    md5-derived weight for a broadcast array lookup, same plan."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def weight_milli(tok):
        bucket = (
            F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long")
            % buckets
        )
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % 2001
        ) - 1000

    n = F.size(toks)
    raw = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + weight_milli(t)
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        raw.alias("raw_milli"),
    ).select(
        "doc_id",
        "n_tokens",
        "raw_milli",
        F.when(F.col("n_tokens") > 0, F.expr("raw_milli div n_tokens"))
        .otherwise(F.lit(0).cast("long"))
        .alias("mean_milli"),
    ).withColumn(
        "label",
        F.when(F.col("mean_milli") >= 0, F.lit("keep")).otherwise(
            F.lit("drop")
        ),
    )


def quality_classifier_sql(buckets: int = CLS_BUCKETS) -> str:
    toks = tokens_sql("text")
    w = (
        f"(('0x' || substr(md5('w' || CAST("
        f"('0x' || substr(md5(t), 1, 4))::BIGINT % {buckets}"
        f" AS VARCHAR)), 1, 4))::BIGINT % 2001) - 1000"
    )
    return f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len({toks}) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform({toks}, t -> {w})), 0)
                  AS BIGINT) AS raw_milli
      FROM documents
    )
    SELECT doc_id, n_tokens, raw_milli,
           CASE WHEN n_tokens > 0 THEN raw_milli // n_tokens
                ELSE 0 END AS mean_milli,
           CASE WHEN (CASE WHEN n_tokens > 0 THEN raw_milli // n_tokens
                           ELSE 0 END) >= 0
                THEN 'keep' ELSE 'drop' END AS label
    FROM scored
    """


LANGID_K = 40  # profile depth (top-K trigrams per language / document)


def lang_id_ngram(spark, sf_dir, k: int = LANGID_K):
    """Character-trigram language ID (Cavnar-Trenkle rank-profile
    classification, 'N-Gram-Based Text Categorization', 1994): build a
    top-``k`` trigram rank profile per language from the labeled corpus,
    score every document's own top-``k`` profile against each language
    profile with the out-of-place measure (|doc_rank - lang_rank|,
    penalty ``k`` for absent trigrams), predict the argmin, and emit the
    (true_lang, pred_lang, n_docs) confusion matrix.

    All ties are broken deterministically (count desc, trigram asc;
    score asc, lang asc) and every score is an integer, so the DuckDB
    oracle matches exactly.

    Scale shape (round-6 rewrite, round-7 tail fold): two MAP-ONLY
    Arrow passes over the corpus, each fanned out to the cluster width
    first (the single-file fixture parquet otherwise scans as ONE input
    partition and both kernels run serially — the same repartition
    rationale as _shingle_df). Pass 1 emits batch-partial
    (lang, trigram) counts from inside the pandas kernel, so the only
    corpus-wide exchange is an aggregation whose key cardinality is
    bounded by langs × trigram alphabet, not the corpus; the finished
    language profiles (langs × k rows — a bounded driver table like
    BM25's query set) are collected and shipped INTO pass 2, which
    classifies each document directly (count trigrams → top-k →
    out-of-place score per lang → argmin) and emits one
    (true_lang, pred_lang) row per doc — the former
    crossJoin/broadcast-join/double-aggregate scoring tail collapses
    into the same kernel that already held every needed count. The
    normalized text is computed JVM-side (same expression both
    engines); the Python kernel only counts substrings of it."""
    import pandas as pd
    from pyspark.sql import Window

    P = spark.sparkContext.defaultParallelism
    docs = load(spark, sf_dir, "documents")
    base = docs.repartition(P).select(
        "doc_id", "lang", norm_text(F.col("text")).alias("norm")
    )

    def lang_partials(batches):
        from collections import Counter

        for pdf in batches:
            c: Counter = Counter()
            for lang, s in zip(pdf["lang"], pdf["norm"]):
                for i in range(len(s) - 2):
                    c[(lang, s[i:i + 3])] += 1
            if not c:
                continue
            items = list(c.items())
            yield pd.DataFrame(
                {
                    "lang": [a for (a, _), _n in items],
                    "tg": [b for (_, b), _n in items],
                    "cnt": [n for _k, n in items],
                }
            )

    lang_rows = base.select("lang", "norm").mapInPandas(
        lang_partials, "lang string, tg string, cnt long"
    )
    lang_w = Window.partitionBy("lang").orderBy(
        F.desc("cnt"), F.asc("tg")
    )
    # bounded driver materialization: langs × k rows (≤ a few hundred)
    prof_rows = (
        lang_rows.groupBy("lang", "tg")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("lrank", F.row_number().over(lang_w))
        .filter(F.col("lrank") <= k)
        .select("lang", "tg", "lrank")
        .collect()
    )
    profiles: dict = {}
    for r in prof_rows:
        profiles.setdefault(r["lang"], {})[r["tg"]] = r["lrank"]
    # every labeled language is a scoring candidate even when it has no
    # profile rows (all-empty docs): absent trigrams score k, as before
    langs = sorted(
        r["lang"] for r in docs.select("lang").distinct().collect()
    )
    lang_profiles = [(lang, profiles.get(lang, {})) for lang in langs]

    def classify(batches):
        from collections import Counter

        for pdf in batches:
            out = {"true_lang": [], "pred_lang": []}
            for lang, s in zip(pdf["lang"], pdf["norm"]):
                c = Counter(s[i:i + 3] for i in range(len(s) - 2))
                if not c:
                    continue  # no trigrams: the doc scores nothing
                # (count desc, trigram asc) — ASCII corpus, so Python's
                # string order == Spark/DuckDB binary string order
                top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
                best = None
                for cand, prof in lang_profiles:
                    score = 0
                    for pos, (tg, _) in enumerate(top, start=1):
                        lr = prof.get(tg)
                        score += abs(pos - lr) if lr is not None else k
                    if best is None or (score, cand) < best:
                        best = (score, cand)
                out["true_lang"].append(lang)
                out["pred_lang"].append(best[1])
            if out["true_lang"]:
                yield pd.DataFrame(out)

    pred = base.select("lang", "norm").mapInPandas(
        classify, "true_lang string, pred_lang string"
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


def lang_id_ngram_sql(k: int = LANGID_K) -> str:
    norm = NORM_SQL.format(c="text")
    return f"""
    WITH base AS (
      SELECT doc_id, lang, {norm} AS norm FROM documents
    ),
    tri AS (
      SELECT doc_id, lang,
             unnest(list_transform(
                 range(1, greatest(length(norm) - 2, 0) + 1),
                 i -> substr(norm, i, 3))) AS tg
      FROM base
    ),
    doc_tg AS (
      SELECT doc_id, lang, tg, count(*) AS cnt
      FROM tri GROUP BY doc_id, lang, tg
    ),
    lang_prof AS (
      SELECT lang, tg,
             row_number() OVER (PARTITION BY lang
                                ORDER BY sum(cnt) DESC, tg ASC) AS lrank
      FROM doc_tg GROUP BY lang, tg
      QUALIFY lrank <= {k}
    ),
    doc_prof AS (
      SELECT doc_id, tg,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, tg ASC) AS drank
      FROM doc_tg
      QUALIFY drank <= {k}
    ),
    langs AS (SELECT DISTINCT lang FROM documents),
    scored AS (
      SELECT d.doc_id, l.lang,
             CAST(sum(coalesce(abs(d.drank - p.lrank), {k})) AS BIGINT)
               AS score
      FROM doc_prof d
      CROSS JOIN langs l
      LEFT JOIN lang_prof p ON p.lang = l.lang AND p.tg = d.tg
      GROUP BY d.doc_id, l.lang
    ),
    pred AS (
      SELECT doc_id, lang AS pred_lang
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score ASC, lang ASC) = 1
    )
    SELECT doc.lang AS true_lang, pred.pred_lang, count(*) AS n_docs
    FROM documents doc JOIN pred ON doc.doc_id = pred.doc_id
    GROUP BY true_lang, pred_lang
    """


LM_SCALE_BITS = 20  # fixed-point scale for the integer log2
LM_SCALE = 1 << LM_SCALE_BITS
LM_FLAG_MILLIBITS = 4_500  # avg surprisal > 4.5 bits/bigram → flagged (corpus tail)


def lm_surprisal(spark, sf_dir):
    """CCNet/KenLM-style bigram language-model quality filter, trained
    on the corpus itself: per document, total and mean add-one-smoothed
    bigram surprisal, with high-perplexity docs flagged.

    Integer-exact cross-engine respec of ``-log2 p``: with
    ``p(w2|w1) = (c12+1)/(c1+V)``, ``floor(log2(1/p))`` is computed as
    ``length(bin((c1+V)*2^20 div (c12+1))) - 1 - 20`` — bit-length is
    the integer log2, identical in Spark and DuckDB, no floats anywhere.
    ``sum_inv_p`` (the summed fixed-point 1/p) rides along as the
    full-precision tie-breaker the floor throws away.

    Scale shape: everything derives from ONE per-(doc, bigram) count
    groupBy — its exchange is planned once and read back by all four
    consumers (ReusedExchange), so the tokenize+explode runs a single
    time. Per-occurrence sums become count-weighted sums over distinct
    bigrams (identical integers, far fewer rows). Hot stopword keys
    combine map-side; the vocab-sized unigram table broadcasts; only
    the bigram-count join shuffles on (w1, w2)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    P = spark.sparkContext.defaultParallelism
    bgc = (
        # fan out before the tokenize + bigram explode: the single-file
        # fixture parquet scans as ONE task, which would run the whole
        # regex/explode/partial-agg chain serially (the _shingle_df
        # pattern; round-7)
        docs.repartition(P)
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .groupBy("doc_id", "b.w1", "b.w2")
        .agg(F.count("*").alias("c"))
    )
    uni = bgc.groupBy("w1").agg(F.sum("c").alias("c1"))
    bi = bgc.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    vocab = uni.agg(F.count("*").alias("v"))
    scored = (
        bgc.join(bi, ["w1", "w2"])
        .join(F.broadcast(uni), ["w1"])
        .crossJoin(F.broadcast(vocab))
        .withColumn("inv_p", F.expr(f"((c1 + v) * {LM_SCALE}) div (c12 + 1)"))
        .withColumn(
            "bits", F.length(F.bin(F.col("inv_p"))) - 1 - LM_SCALE_BITS
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.sum(F.col("c") * F.col("bits")).alias("total_surprisal_bits"),
        F.sum(F.col("c") * F.col("inv_p")).alias("sum_inv_p"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "total_surprisal_bits",
        "sum_inv_p",
        # integer micro-bits: the one former float in this column set
        # (round-to-6 double division) could flake on rare rounding-tie
        # representations across engines; integer div cannot
        F.expr("total_surprisal_bits * 1000000 div n_bigrams").alias(
            "avg_microbits"
        ),
        (
            F.col("total_surprisal_bits") * 1000
            > F.lit(LM_FLAG_MILLIBITS) * F.col("n_bigrams")
        ).alias("high_perplexity"),
    )


def lm_surprisal_sql() -> str:
    toks = tokens_sql("text")
    return f"""
    WITH bgc AS (
      SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(toks)),
                 i -> struct_pack(w1 := toks[i], w2 := toks[i + 1])
               )) AS b
        FROM (SELECT doc_id, {toks} AS toks FROM documents)
        WHERE len(toks) >= 2
      )
      GROUP BY doc_id, b.w1, b.w2
    ),
    uni AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM bgc GROUP BY w1),
    bi AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c12
           FROM bgc GROUP BY w1, w2),
    vocab AS (SELECT count(*) AS v FROM uni),
    scored AS (
      SELECT bgc.doc_id, bgc.c,
             ((uni.c1 + vocab.v) * {LM_SCALE}) // (bi.c12 + 1) AS inv_p,
             length(bin(((uni.c1 + vocab.v) * {LM_SCALE}) // (bi.c12 + 1)))
               - 1 - {LM_SCALE_BITS} AS bits
      FROM bgc
      JOIN bi USING (w1, w2)
      JOIN uni USING (w1)
      CROSS JOIN vocab
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(sum(c * bits) AS BIGINT) AS total_surprisal_bits,
             CAST(sum(c * inv_p) AS BIGINT) AS sum_inv_p
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, total_surprisal_bits, sum_inv_p,
           total_surprisal_bits * 1000000 // n_bigrams AS avg_microbits,
           total_surprisal_bits * 1000 > {LM_FLAG_MILLIBITS} * n_bigrams
             AS high_perplexity
    FROM agg
    """


QUERIES = {
    "text_doc_stats": doc_stats,
    "text_token_topk": token_topk,
    "text_rolling_fingerprint": rolling_fingerprint,
    "text_winnow_fingerprints": winnow_fingerprints,
    "text_dom_main_block": dom_main_block,
    "text_sample_stratified": sample_stratified,
    "text_sample_weighted": sample_weighted,
    "text_bm25_topk": bm25_topk,
    "text_repetition_filter": repetition_filter,
    "text_pii_scrub": pii_scrub,
    "text_chunk_fixed": chunk_fixed,
    "text_pack_sequences": pack_sequences,
    "text_length_quantiles": length_quantiles,
    "text_mix_by_source": mix_by_source,
    "text_quality_classifier": quality_classifier,
    "text_lang_id": lang_id_ngram,
    "text_lm_surprisal": lm_surprisal,
}

ORACLES = {
    "text_doc_stats": doc_stats_sql(),
    "text_token_topk": token_topk_sql(),
    "text_rolling_fingerprint": rolling_fingerprint_sql(),
    "text_winnow_fingerprints": winnow_fingerprints_sql(),
    "text_dom_main_block": dom_main_block_sql(),
    "text_sample_stratified": sample_stratified_sql(),
    "text_sample_weighted": sample_weighted_sql(),
    "text_bm25_topk": bm25_topk_sql(),
    "text_repetition_filter": repetition_filter_sql(),
    "text_pii_scrub": pii_scrub_sql(),
    "text_chunk_fixed": chunk_fixed_sql(),
    "text_pack_sequences": pack_sequences_sql(),
    "text_length_quantiles": length_quantiles_sql(),
    "text_mix_by_source": mix_by_source_sql(),
    "text_quality_classifier": quality_classifier_sql(),
    "text_lang_id": lang_id_ngram_sql(),
    "text_lm_surprisal": lm_surprisal_sql(),
}
