"""The distributed extraction pipeline (the engine's flagship "query").

Spark shape (SURVEY.md §3.1):

    docs ──explode(spans)──┬── text spans ──JVM regexp boilerplate strip ──┐
                           └── media spans ─┐                              │
    media ──(ocr_lines,w,h only; image      │ distinct(media_ref)          │
             bytes PRUNED from the scan) ───┴── join ── repartition ──     │
                 mapInArrow(GNN kernel, Arrow batches) ── cells ──         │
                 join back to span occurrences ────────────────────────────┤
                                                                           ▼
            extract:      groupBy(doc_id) → collect_list → array_sort
            extract_flat: row_number over a doc_id window

Scale properties, deliberately:
- **Kernel runs once per distinct media_ref**, not per occurrence — shared
  images across documents cost one forward pass; results fan back out with
  an equi-join (AQE handles reference skew).
- **Column pruning**: the kernel needs only (ocr_lines, width, height); the
  potentially-huge ``image`` binary column never leaves the scan unless the
  caller asks for visual features.
- **Only Python boundary** is the Arrow-batched ``mapInArrow`` kernel; the
  boilerplate strip is JVM-side ``regexp_replace`` inside whole-stage
  codegen.
- **One shuffle** for reassembly, keyed by doc_id: ``extract`` re-numbers
  offsets inside the collected array with ``transform``; ``extract_flat``
  numbers flat rows with a window ``row_number``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from ..core import boilerplate
from ..core.gnn import weights_from_bytes, weights_to_bytes

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("cell_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)

OUT_SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,offset:int>"

# per-worker weights cache: an artifact is parsed from the broadcast bytes
# once per Python worker process, keyed by the artifact's CONTENT digest
# (computed driver-side, shipped in the task closure), so a reused worker
# parses the 59 MB G3 npz once across tasks and query invocations that use
# the same weights. Only module-level functions may touch it: cloudpickle
# ships a nested function by value, with a private copy of this dict.
_WEIGHTS_CACHE: dict = {}

# driver-side broadcast cache: one torrent distribution per
# (SparkContext, weights-content) — repeated query invocations (and
# bench repeats) reuse the live broadcast instead of re-shipping the
# artifact (59 MB for G3, 145 KB for G2 — the latter used to ride the
# task closure, i.e. ~37 MB of per-task IPC at 256 kernel tasks).
# Holds a ref to the weights dict so an id() key can't be recycled.
_BC_CACHE: dict = {}


def _broadcast_weights(sc, wdict: dict):
    """(broadcast, content-digest) for a weights dict, cached per
    (SparkContext, dict identity) so repeated invocations reuse one
    live broadcast and one serialization."""
    key = (id(sc), id(wdict))
    hit = _BC_CACHE.get(key)
    if hit is None:
        wbytes = weights_to_bytes(wdict)
        digest = hashlib.md5(wbytes).hexdigest()
        bc = sc.broadcast(wbytes)
        _BC_CACHE[key] = (wdict, digest, bc)
        return bc, digest
    _ref, digest, bc = hit
    return bc, digest


def _cached_weights(weights_bc, w_digest: str) -> dict:
    """The parsed weights for ``w_digest``, from this worker's cache or
    parsed from the broadcast bytes on a miss."""
    w = _WEIGHTS_CACHE.get(w_digest)
    if w is None:
        w = weights_from_bytes(weights_bc.value)
        _WEIGHTS_CACHE[w_digest] = w
    return w


def _kernel_fn(weights_bc, w_digest: str, strategy: str = "knn",
               model: str = "g2"):
    """Build the Arrow-batched kernel (``mapInArrow``).

    Each record batch is decoded into per-image inputs
    ``(bboxes, texts, width, height, image-or-None)`` in one loop. The
    nested ``ocr_lines`` column is consumed straight from the Arrow
    buffers — per-line bboxes come from ``np.minimum/maximum.reduceat``
    over the flat point arrays, never materializing per-point Python
    dicts. (The earlier mapInPandas version did; at 32 concurrent workers
    the dict materialization contended so badly it ran 3.7× SLOWER than
    at 8 workers — measured 6.7 s → 24.7 s for the same input.)

    ``model`` only picks the function from those inputs to cell lists:
    ``run_kernel_arrays`` per image for G2, or for visual the fused
    ``run_kernel_arrays_many`` — ONE batched CNN over every crop in the
    record batch instead of a small under-utilized GEMM chain per image.

    The model's weights arrive via ``sparkContext.broadcast`` (one copy
    per executor, fetched once) — never the task closure, which is
    re-shipped to the Python worker on EVERY task — and the parsed
    arrays are memoized per worker by :func:`_cached_weights`.

    Lines with no points are dropped before graph construction (the
    oracle's ``run_kernel`` drops them too); a row left with no lines has
    no cells.
    """

    def fn(batches):
        from ..core.blas import limit_blas_threads
        from ..oracle.extract import run_kernel_arrays, run_kernel_arrays_many

        limit_blas_threads(1)
        w = _cached_weights(weights_bc, w_digest)

        if model == "visual":
            def cells_of(inputs):
                return run_kernel_arrays_many(inputs, strategy, w)
        else:
            def cells_of(inputs):
                return [
                    run_kernel_arrays(b, t, wd, ht, w, strategy)
                    for b, t, wd, ht, _image in inputs
                ]

        for rb in batches:
            refs = rb.column("media_ref").to_pylist()
            widths = rb.column("width").to_numpy(zero_copy_only=False)
            heights = rb.column("height").to_numpy(zero_copy_only=False)
            images = (
                rb.column("image").to_pylist()
                if model == "visual"
                else [None] * rb.num_rows
            )
            ocr = rb.column("ocr_lines")
            row_off = ocr.offsets.to_numpy(zero_copy_only=False)
            lines = ocr.values
            line_ids = lines.field("line_id").to_numpy(zero_copy_only=False)
            texts_all = lines.field("text").to_pylist()
            pts_list = lines.field("points")
            pts_off = pts_list.offsets.to_numpy(zero_copy_only=False)
            pts = pts_list.values
            xs = pts.field("x").to_numpy(zero_copy_only=False)
            ys = pts.field("y").to_numpy(zero_copy_only=False)

            # per-line bboxes across the whole batch in four reduceats over
            # the lines that have points; the rest are dropped below
            has_pts = pts_off[1:] > pts_off[:-1]
            starts = pts_off[:-1][has_pts]
            bboxes_all = np.zeros((len(line_ids), 4), dtype=np.int64)
            if len(starts):
                bboxes_all[has_pts] = np.stack(
                    [
                        np.minimum.reduceat(xs, starts),
                        np.minimum.reduceat(ys, starts),
                        np.maximum.reduceat(xs, starts),
                        np.maximum.reduceat(ys, starts),
                    ],
                    axis=1,
                )

            kept_refs, inputs = [], []
            for r in range(rb.num_rows):
                kept = int(row_off[r]) + np.flatnonzero(
                    has_pts[row_off[r] : row_off[r + 1]]
                )
                if not len(kept):  # no lines with points: no cells
                    continue
                order = kept[np.argsort(line_ids[kept], kind="stable")]
                kept_refs.append(refs[r])
                inputs.append(
                    (
                        bboxes_all[order],
                        [texts_all[j] for j in order],
                        int(widths[r]),
                        int(heights[r]),
                        images[r],
                    )
                )

            out_refs, out_idxs, out_texts = [], [], []
            for ref, cells in zip(kept_refs, cells_of(inputs)):
                out_refs += [ref] * len(cells)
                out_idxs += range(len(cells))
                out_texts += cells
            yield pa.RecordBatch.from_pydict(
                {
                    "media_ref": pa.array(out_refs, pa.string()),
                    "cell_idx": pa.array(out_idxs, pa.int32()),
                    "text": pa.array(out_texts, pa.string()),
                }
            )

    return fn


def recognize_tables(
    media_df: DataFrame,
    weights: dict,
    strategy: str = "knn",
    model: str = "g2",
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Distinct media rows → (media_ref, cell_idx, text) via the GNN kernel.

    model='visual' additionally reads the ``image`` binary column (the
    only path that does — everything else prunes it at the scan) and runs
    with ``visual.default_weights()`` in place of ``weights`` (the same
    resolver the no-Spark oracle uses, so parity holds by construction).
    The kernel's weights ship to executors as a broadcast.

    Fan-out: the rows are round-robined into
    ``max(1, min(2 × defaultParallelism, n_rows_bound))`` kernel tasks.
    Every task pays a fixed Python-worker cost before the kernel runs:
    an identity ``mapInArrow`` task on a reused worker took ~220 ms of
    worker CPU at PySpark 4.1.2 / Python 3.11, nearly all of it re-reading
    zip archives, and ~38 ms once ``zipdir.py`` skips unchanged ones
    (4-core VM; a 32-task job 2.2 s → 0.9 s, an 8-task one 0.4 s). 2×
    cores still lets the scheduler level the ~3× spread of per-image cost
    across tasks; on the 600-image ``kernel_heavy`` benchmark it beat both
    8× and 1× cores. The cap by ``n_rows_bound`` (an upper bound on the
    input row count; omitted = no cap) keeps a small input from paying for
    tasks that get no rows.
    Round-robin, NOT hash-by-ref: each input row is one complete media
    (ref + all its ocr lines), so the kernel needs no key co-location —
    and hash partitioning leaves collision stragglers on small/skewed ref
    sets (two 300 ms visual-kernel images in one task = a 2× tail) where
    round-robin balances exactly."""
    sc = media_df.sparkSession.sparkContext
    cols = ["media_ref", "ocr_lines", "width", "height"]
    if model == "visual":
        from ..core import visual

        cols.append("image")
        weights = visual.default_weights()
    n_tasks = 2 * sc.defaultParallelism
    if n_rows_bound is not None:
        n_tasks = max(1, min(n_tasks, n_rows_bound))
    w_bc, w_digest = _broadcast_weights(sc, weights)
    return (
        media_df.select(*cols)
        .repartition(n_tasks)
        .mapInArrow(
            _kernel_fn(w_bc, w_digest, strategy, model), schema=CELLS_SCHEMA
        )
    )


def _all_spans(
    docs_df: DataFrame,
    media_df: DataFrame,
    weights: dict,
    strategy: str = "knn",
    model: str = "g2",
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Shared pipeline core → un-numbered output spans
    (doc_id, orig_offset, sub_idx, kind, text, media_ref).

    ``n_rows_bound`` caps the kernel fan-out (see
    :func:`recognize_tables`); omitted, the media table's row count is
    used — a cheap upper bound on |distinct refs| (a metadata-fast
    parquet count), so a small media corpus never fans out into hundreds
    of near-empty Python-boundary tasks. A caller whose ``media_df`` is
    costly to count (a parsed-XML table, say) passes the bound."""
    spans = docs_df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("orig_offset"),
    )

    text = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        "orig_offset",
        F.lit(0).alias("sub_idx"),
        F.lit("main_text").alias("kind"),
        boilerplate.spark_strip_expr(F.col("text")).alias("text"),
        F.lit("").alias("media_ref"),
    )

    media_spans = spans.filter(F.col("kind") == "media").select(
        "doc_id", "orig_offset", "media_ref"
    )

    # kernel once per distinct ref; recognize_tables' column selection
    # prunes the image bytes column at the scan (unless model='visual')
    refs = media_spans.select("media_ref").distinct()
    kernel_input = refs.join(media_df, "media_ref")
    if n_rows_bound is None:
        n_rows_bound = media_df.count()
    cells = recognize_tables(
        kernel_input, weights, strategy, model, n_rows_bound=n_rows_bound
    )

    media_out = media_spans.join(cells, "media_ref").select(
        "doc_id",
        "orig_offset",
        F.col("cell_idx").alias("sub_idx"),
        F.lit("cell").alias("kind"),
        "text",
        "media_ref",
    )

    return text.unionByName(media_out)


def extract(
    docs_df: DataFrame,
    media_df: DataFrame,
    weights: dict,
    **kwargs,
) -> DataFrame:
    """docs + media → out(doc_id, spans) with re-numbered dense offsets.

    Canonical semantics == ``oracle.extract_corpus``: text spans →
    kind='main_text' (boilerplate-stripped), media spans → one kind='cell'
    span per assembled table cell; media_refs absent from ``media_df`` emit
    nothing (inner join).
    """
    all_spans = _all_spans(docs_df, media_df, weights, **kwargs)

    return (
        all_spans.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("orig_offset", "sub_idx", "kind", "text", "media_ref")
                )
            ).alias("tmp")
        )
        .select(
            "doc_id",
            F.transform(
                "tmp",
                lambda s, i: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).cast(f"array<{OUT_SPAN_STRUCT}>").alias("spans"),
        )
    )


def extract_flat(
    docs_df: DataFrame, media_df: DataFrame, weights: dict, **kwargs
) -> DataFrame:
    """Same result as exploding :func:`extract` — one row per output span —
    but computed with a window ``row_number`` instead of
    collect_list/array_sort: the flat consumer needs no arrays, and the
    ObjectHashAggregate's per-doc array building was the GC-heavy phase of
    the benchmark (~25 s at 72% CPU on the 80k-doc corpus)."""
    from pyspark.sql import Window

    all_spans = _all_spans(docs_df, media_df, weights, **kwargs)
    w = Window.partitionBy("doc_id").orderBy("orig_offset", "sub_idx")
    return all_spans.select(
        "doc_id",
        (F.row_number().over(w) - 1).alias("offset"),
        "kind",
        "text",
        "media_ref",
    )
