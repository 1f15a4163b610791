"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline (interleaved
text+media docs derived from sf0.001 documents.parquet + seeded fixture
media → boilerplate strip + GNN table-recognition kernel → ordered spans).

``queries()`` exposes every implemented operator; ``oracle_sql()`` gives
the DuckDB-equivalent SQL where the operator is SQL-expressible. The
extraction/multimodal queries are non-SQL-expressible (GNN kernel, binary
image decode) → rows-only checks there; their strong correctness gate is
the span-sequence parity suite in tests/ (python -m pytest -x -q).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in __import__("sys").path:
    __import__("sys").path.insert(0, _REPO)


def _weights():
    from table_recognition_spark.core import gnn

    return gnn.default_weights()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction pipeline over sf0.001-derived interleaved docs."""
    from table_recognition_spark.pipeline.flagship import flagship

    return flagship(spark, "/root/testdata/sf0.001", _weights())


def _extract_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from table_recognition_spark.pipeline.flagship import flagship

    return flagship(spark, sf_dir, _weights())


def _extract_interleaved_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same flagship with the reference's configured-default edge
    discovery (node-visibility ray casting, J2)."""
    from table_recognition_spark.pipeline.flagship import fixture_media, interleaved_docs
    from table_recognition_spark.pipeline.extract import extract_flat

    return extract_flat(
        interleaved_docs(spark, sf_dir),
        fixture_media(spark),
        _weights(),
        strategy="visibility",
    )


def _extract_interleaved_visual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship with the G3 visual model (numpy CNN over image crops) —
    the reference's configured-default architecture; its weights pick it."""
    from table_recognition_spark.core import visual
    from table_recognition_spark.pipeline.extract import extract_flat
    from table_recognition_spark.pipeline.flagship import (
        fixture_media,
        interleaved_docs,
    )

    return extract_flat(
        interleaved_docs(spark, sf_dir),
        fixture_media(spark),
        visual.default_weights(),
    )


def _media_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from table_recognition_spark.operators.multimodal import image_stats
    from table_recognition_spark.pipeline.flagship import fixture_media

    # tiny fixture input: match partitions to data size (32 near-empty
    # tasks just churn python workers)
    return image_stats(fixture_media(spark).repartition(2))


def _media_patch_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # flat (media_ref, patch_idx, value) rows: array<float> columns are
    # unsortable in the driver's pandas canonicalizer (round-1 crash)
    from table_recognition_spark.operators.multimodal import (
        patch_embeddings_flat,
    )
    from table_recognition_spark.pipeline.flagship import fixture_media

    return patch_embeddings_flat(fixture_media(spark).repartition(2))


def _media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode + per-clip stats over the WAV fixture table (stdlib
    PCM decode inside an Arrow-batched kernel; binary decode →
    rows-only check, pytest pins values vs a local decode)."""
    from table_recognition_spark.operators.multimodal import audio_stats
    from table_recognition_spark.pipeline.flagship import fixture_audio

    return audio_stats(fixture_audio(spark).repartition(2)).orderBy(
        "media_ref"
    )


def _media_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling + per-frame stats over the TRV0 fixture
    table (deterministic JPEG-frame container; one container decode per
    clip, only sampled frames image-decoded)."""
    from table_recognition_spark.operators.multimodal import video_frame_stats
    from table_recognition_spark.pipeline.flagship import fixture_video

    return video_frame_stats(fixture_video(spark).repartition(2)).orderBy(
        "media_ref", "frame_idx"
    )


def _extract_from_pagexml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship extraction with the media table round-tripped through
    PAGE-XML strings — the reference's actual input format (graph.py:47-59)
    — proving the XML ingestion path feeds the pipeline unchanged. Both
    directions are JVM expressions (``to_xml`` / ``from_xml``), so the
    kernel is the only Python in the plan. Span-equality vs the direct
    path is pinned in tests/test_sources_xml."""
    from table_recognition_spark.pipeline.extract import extract_flat
    from table_recognition_spark.pipeline.flagship import (
        N_MEDIA,
        fixture_media,
        interleaved_docs,
    )
    from table_recognition_spark.sources.pagexml import (
        page_xml_lines,
        to_page_xml,
    )

    xml_media = fixture_media(spark).select(
        "media_ref", "width", "height",
        to_page_xml("ocr_lines", "width", "height").alias("page_xml"),
    )
    parsed = xml_media.select(
        "media_ref", "width", "height",
        page_xml_lines("page_xml").alias("ocr_lines"),
    )
    # kernel fan-out bound = the known fixture size: without it the
    # 24 rows would fan out into 2 x cores kernel tasks, most of them empty
    return extract_flat(
        interleaved_docs(spark, sf_dir), parsed, _weights(),
        n_rows_bound=N_MEDIA,
    )


def _extract_from_pagexml_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship extraction with the media table read from a directory of
    PAGE-XML FILES by ``sources.pagexml.read_page_xml`` (the JVM
    ``binaryFile`` source and ``from_xml``) — the reference's actual
    on-disk input layout (graph.py:47-59). Output must equal the
    straight-run flagship (same expected-parquet oracle as
    extract_interleaved)."""
    from table_recognition_spark.pipeline.extract import extract_flat
    from table_recognition_spark.pipeline.flagship import (
        N_MEDIA,
        fixture_pagexml,
        interleaved_docs,
    )
    from table_recognition_spark.sources.pagexml import read_page_xml

    parsed = read_page_xml(spark, fixture_pagexml(spark))
    # fan-out bound = the staged corpus size (see _extract_from_pagexml)
    return extract_flat(
        interleaved_docs(spark, sf_dir), parsed, _weights(),
        n_rows_bound=N_MEDIA,
    )


def _pipeline_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule resumability under the driver's hash gate: chunked
    extraction (doc-hash partitioned, per-chunk lineage commits via
    pipeline/checkpoint.py), a simulated crash after 1 of 2 chunks,
    then a resume that must skip the committed chunk; the recombined
    output is compared against the straight-run flagship's committed
    expected parquet (the SAME oracle as extract_interleaved — resume
    must be invisible in the result)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from table_recognition_spark.pipeline.checkpoint import (
        CheckpointedExtract,
        SimulatedCrash,
    )
    from table_recognition_spark.pipeline.flagship import (
        fixture_media,
        interleaved_docs,
    )

    docs = interleaved_docs(spark, sf_dir)
    media = fixture_media(spark)
    # chunk store on tmpfs when available: the drive writes and re-reads
    # two small parquet chunk datasets plus commit records, and a slow
    # disk stalls under small-file fsync traffic (same rationale as the
    # streaming drives' checkpoint location). The result is materialised
    # with localCheckpoint(), so the store is removed before the
    # DataFrame is returned.
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ck = CheckpointedExtract(
        tempfile.mkdtemp(prefix="trs_ckpt_", dir=base), n_chunks=2
    )
    try:
        try:
            ck.run(spark, docs, media, _weights(), fail_after=1)
        except SimulatedCrash:
            pass
        assert len(ck.committed()) == 1, "crash must leave a partial run"
        resumed = ck.run(spark, docs, media, _weights())
        assert resumed == 1, "resume must run exactly the uncommitted chunk"
        return (
            ck.read_output(spark)
            .select("doc_id", F.explode("spans").alias("s"))
            .select(
                "doc_id",
                F.col("s.offset").cast("int").alias("offset"),
                F.col("s.kind").alias("kind"),
                F.col("s.text").alias("text"),
                F.col("s.media_ref").alias("media_ref"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(ck.out_dir, ignore_errors=True)


_SPLIT_IDS = [i * 7 + 3 for i in range(20)]


def _dataset_split_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-list loader (reference dataset.py:14-39): select only the
    documents named by a split list; isin predicate pushed to the scan."""
    from pyspark.sql import functions as F

    from table_recognition_spark.operators.dataset_ops import filter_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        filter_split(docs, _SPLIT_IDS, "doc_id")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


DATASET_SPLIT_SQL = (
    "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id IN ("
    + ", ".join(str(i) for i in _SPLIT_IDS)
    + ") ORDER BY doc_id"
)


def _gt_repair_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GT row-range repair (reference dataset_editing/Table.py:27-41) over
    the fixture ground-truth table, emitted flat for the driver check.
    Columns cast to long to hash-match the DuckDB oracle (which reads
    the SAME committed fixture parquet via read_parquet)."""
    from pyspark.sql import functions as F

    from table_recognition_spark.operators.dataset_ops import repair_gt_rows
    from table_recognition_spark.pipeline.flagship import fixture_gt

    repaired = repair_gt_rows(fixture_gt(spark))
    return (
        repaired.select(
            "media_ref", F.posexplode("cells").alias("cell_idx", "c")
        )
        .select(
            "media_ref",
            F.col("cell_idx").cast("long").alias("cell_idx"),
            F.col("c.type").alias("cell_type"),
            F.col("c.start_row").cast("long").alias("start_row"),
            F.col("c.end_row").cast("long").alias("end_row"),
            F.col("c.start_col").cast("long").alias("start_col"),
            F.col("c.end_col").cast("long").alias("end_col"),
        )
        .orderBy("media_ref", "cell_idx")
    )


def _gt_repair_sql() -> str:
    """DuckDB mirror of repair_gt_rows over the committed fixture GT
    parquet (dist/fixture_gt_n24_seed42.parquet — deterministic,
    seed-42, 20 KB, checked in so the oracle never depends on the Spark
    side having materialized the cache first)."""
    p = os.path.join(_REPO, "dist", "fixture_gt_n24_seed42.parquet",
                     "*.parquet")
    return f"""
    WITH g AS (
      SELECT media_ref, cells,
             list_max(list_transform(list_filter(cells, x -> x.type = 'header'),
                                     x -> x.end_row)) AS hm,
             list_min(list_transform(list_filter(cells, x -> x.type = 'data'),
                                     x -> x.start_row)) AS dm
      FROM read_parquet('{p}')
    ),
    r AS (
      SELECT media_ref, cells,
             (hm IS NOT NULL AND dm IS NOT NULL AND hm > dm) AS needs,
             coalesce(hm - dm, 0) AS diff
      FROM g
    )
    SELECT media_ref, CAST(i - 1 AS BIGINT) AS cell_idx,
           cells[i].type AS cell_type,
           CAST(cells[i].start_row + CASE WHEN needs AND cells[i].type = 'data'
                THEN diff ELSE 0 END AS BIGINT) AS start_row,
           CAST(cells[i].end_row + CASE WHEN needs AND cells[i].type = 'data'
                THEN diff ELSE 0 END AS BIGINT) AS end_row,
           CAST(cells[i].start_col AS BIGINT) AS start_col,
           CAST(cells[i].end_col AS BIGINT) AS end_col
    FROM r, unnest(range(1, len(cells) + 1)) t(i)
    ORDER BY media_ref, cell_idx
    """


# --- committed-expected-parquet oracles --------------------------------
# The GNN-extraction and media-decode queries are non-SQL-expressible,
# but their outputs are fully deterministic (seeded weights, canonical
# node/edge ordering, pinned pure-numpy codecs). scripts/gen_expected.py
# materializes each one's output at the driver's correctness scale
# (sf0.01) as a committed parquet under dist/expected/; the DuckDB
# oracle replays that committed truth while Spark recomputes live, so
# the driver's rows+schema+hash gate covers the flagship kernel itself.
# Staleness guard: tests/test_queries_duckdb.py recomputes every one of
# these against the committed parquet on each pytest run.
#
# Epistemics (be precise about what this gate proves): the committed
# parquet was generated by the same Spark implementation it now gates,
# so for THESE queries the rows+schema+hash check is a determinism /
# regression pin, NOT an independent cross-check (a bug present at
# gen_expected time would be committed as truth). The four extraction
# parquets are also checked independently:
# tests/test_expected_independent.py requires each to equal the no-Spark
# numpy oracle (oracle/extract.py) over the same sf0.01 docs and fixture
# media. The media-decode ones rest on pinned-value pytests
# (tests/test_jpeg.py, tests/test_multimodal.py). The SQL-oracled
# queries, by contrast, ARE independently cross-checked (DuckDB
# recomputes from the raw tables). Environment note: these outputs
# include float matmuls (G3 CNN forward, IVF k-means); artifacts were
# generated with numpy's default OpenBLAS on x86-64 (linux, numpy 2.x)
# — a different BLAS / FMA regime could in principle flip a low-order
# bit and break the hash; if a cross-machine mismatch appears with all
# pytests green, regenerate via scripts/gen_expected.py and diff values
# (tolerance), not hashes.
EXPECTED_ORACLE_QUERIES = [
    "extract_interleaved",
    "extract_interleaved_visibility",
    "extract_interleaved_visual",
    "extract_from_pagexml",
    "media_image_stats",
    "media_patch_embeddings",
    "media_audio_stats",
    "media_video_frame_stats",
    "sim_ivf_topk",
    "dedup_semantic",
    # iterative (data-dependent per-round argmax): determinism-pinned,
    # independently anchored by the pure-Python mirror in tests/test_bpe.py
    "text_bpe_merges",
    "text_bpe_token_counts",
    # no own parquet: these replay extract_interleaved's committed truth
    # (resume / file-ingestion must be invisible in the result)
    "pipeline_checkpoint_resume",
    "extract_from_pagexml_files",
]


def _expected_sql(name: str) -> str | None:
    path = os.path.join(_REPO, "dist", "expected", f"{name}.parquet")
    if not os.path.isdir(path):
        return None  # not yet generated: driver falls back to rows-only
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


# The driver's correctness gate checks the FIRST 50 queries() entries in
# dict insertion order (round-5 lesson: 82 entries registered
# family-by-family put 35 rel_* + 15 text_* in the window and nothing
# else). This list pins the window composition: every family is
# represented — all 4 extraction queries, media, all of dedup/sim/sketch,
# layout + streaming, 8 relational plan-shape representatives, and the
# text operators (including the round-5 additions that had never had a
# driver-side check). Everything NOT in this list still runs under the
# pytest DuckDB mirror (tests/test_queries_duckdb.py runs every oracle).
DRIVER_WINDOW = [
    # extraction flagship family (expected-parquet oracles)
    "extract_interleaved",
    "extract_interleaved_visibility",
    "extract_interleaved_visual",
    "extract_from_pagexml",
    "gt_repair_rows",
    "dataset_split_load",
    # media decode
    "media_image_stats",
    "media_patch_embeddings",
    "media_audio_stats",
    "media_video_frame_stats",
    # the end-to-end curation composition (quality → exact-dedup →
    # decontamination cascade with per-source accounting); its dedup
    # stage carries dedup_exact's exact-dedup semantics, so that
    # standalone query rotates out of the window (pytest mirror still
    # runs it)
    "pipeline_pretraining_corpus",
    # dedup (8 of 10 standalone; simhash rotates out for the new graph
    # family — its banding shape is minhash_lsh's, pytest mirror still
    # runs it)
    "dedup_minhash_lsh",
    "dedup_jaccard_ngram",
    "dedup_embedding_cosine",
    "dedup_embedding_recall",
    "dedup_groups_cc",
    "dedup_substring_spans",
    "decontaminate_ngram",
    "dedup_semantic",
    # similarity (all 6)
    "sim_bruteforce_topk",
    "sim_lsh_ann_topk",
    "sim_label_centroid_topk",
    "sim_ann_recall",
    "sim_sq8_topk",
    "sim_ivf_topk",
    # sketches (all 5)
    "sketch_hll_distinct",
    "sketch_hll_users_daily",
    "sketch_cms_tokens",
    "sketch_bloom_membership",
    "sketch_hist_quantiles",
    # scan-pruning layout + streaming (sessionization + the
    # stream-stream range join's two-micro-batch drive) + crash-resume
    # (new round 6)
    "layout_prune_stats",
    # iterative graph family (new round 6): integer PageRank over the
    # co-purchase graph
    "graph_pagerank",
    "stream_events_sessions",
    "stream_attribution_join",
    "pipeline_checkpoint_resume",
    # 7 relational representatives, one per plan shape (agg pipeline,
    # join+topk, as-of, range join, rolling window, funnel, json
    # extraction); batch sessionization (rel_events_sessions) rotated
    # out for the streaming join — its lag/cumsum shape is the oracle
    # SIDE of stream_events_sessions and the pytest mirror still runs
    # it; the other TPC-H flavors share these shapes likewise
    "rel_q1_pricing_summary",
    "rel_q3_shipping_priority",
    "rel_asof_last_event",
    "rel_range_join_attribution",
    "rel_rolling_active_users",
    "rel_funnel_steps",
    "rel_events_json_props",
    # 8 text representatives (lm_surprisal first: never driver-checked
    # before round 6; bpe_merges is the round-6 iterative-learner
    # addition — doc_stats rotates out, its agg shape is covered by
    # quality_classifier and the pytest mirror still runs it)
    "text_lm_surprisal",
    "text_lang_id",
    "text_quality_classifier",
    "text_winnow_fingerprints",
    "text_bm25_topk",
    "text_bpe_merges",
    "text_pii_scrub",
    "text_pack_sequences",
]


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from table_recognition_spark.operators import (
        bpe, corpus_pipeline, dedup, graph, incremental, layout,
        similarity, sketch, textstats,
    )
    from table_recognition_spark.queries import relational
    from table_recognition_spark.streaming import ingest

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    q.update(relational.QUERIES)
    q.update(textstats.QUERIES)
    q.update(bpe.QUERIES)
    q.update(corpus_pipeline.QUERIES)
    q.update(incremental.QUERIES)
    q.update(graph.QUERIES)
    q.update(dedup.QUERIES)
    q.update(similarity.QUERIES)
    q.update(sketch.QUERIES)
    q.update(layout.QUERIES)
    q.update(ingest.QUERIES)
    from table_recognition_spark.pipeline import skew

    q.update(skew.QUERIES)
    q["pipeline_checkpoint_resume"] = _pipeline_checkpoint_resume
    q["extract_from_pagexml_files"] = _extract_from_pagexml_files
    # non-SQL-expressible (GNN kernel / binary decode) → oracled via the
    # committed-expected-parquet pattern (EXPECTED_ORACLE_QUERIES above)
    q["extract_interleaved"] = _extract_interleaved
    q["extract_interleaved_visibility"] = _extract_interleaved_visibility
    q["extract_interleaved_visual"] = _extract_interleaved_visual
    q["extract_from_pagexml"] = _extract_from_pagexml
    q["gt_repair_rows"] = _gt_repair_rows
    q["media_image_stats"] = _media_image_stats
    q["media_patch_embeddings"] = _media_patch_embeddings
    q["media_audio_stats"] = _media_audio_stats
    q["media_video_frame_stats"] = _media_video_frame_stats
    q["dataset_split_load"] = _dataset_split_load
    return q


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _all_queries()
    missing = [n for n in DRIVER_WINDOW if n not in q]
    assert not missing, f"DRIVER_WINDOW names unknown queries: {missing}"
    ordered = {n: q[n] for n in DRIVER_WINDOW}
    ordered.update((n, f) for n, f in q.items() if n not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    from table_recognition_spark.operators import (
        corpus_pipeline, dedup, graph, incremental, layout, similarity,
        sketch, textstats,
    )
    from table_recognition_spark.queries import relational
    from table_recognition_spark.streaming import ingest

    o: dict[str, str] = {}
    o.update(relational.ORACLES)
    o.update(textstats.ORACLES)
    o.update(corpus_pipeline.ORACLES)
    o.update(incremental.ORACLES)
    o.update(graph.ORACLES)
    o.update(dedup.ORACLES)
    o.update(similarity.ORACLES)
    o.update(sketch.ORACLES)
    o.update(layout.ORACLES)
    o.update(ingest.ORACLES)
    from table_recognition_spark.pipeline import skew

    o.update(skew.ORACLES)
    o["dataset_split_load"] = DATASET_SPLIT_SQL
    o["gt_repair_rows"] = _gt_repair_sql()
    for name in EXPECTED_ORACLE_QUERIES:
        sql = _expected_sql(name)
        if sql is not None:
            o[name] = sql
    # crash-resume shares the straight-run flagship's committed truth:
    # a resume that changes ANY span hashes differently
    resume_sql = _expected_sql("extract_interleaved")
    if resume_sql is not None:
        o["pipeline_checkpoint_resume"] = resume_sql
        o["extract_from_pagexml_files"] = resume_sql
    return o
