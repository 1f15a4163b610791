"""The distributed extraction pipeline (the engine's flagship "query").

Spark shape (SURVEY.md §3.1):

    docs ──posexplode(spans)──┬── text + media spans ──── left join ────────┐
                              │                          on media_ref       │
                              └── media refs ── distinct ─┐     ▲ cells     │
    media ──(ocr_lines, w, h only; image bytes PRUNED) ── join  │           │
           ── repartition ── mapInArrow(GNN kernel, Arrow batches)          │
                                                                            ▼
        text rows → JVM regexp boilerplate strip; media rows → their cells
            → row_number over a doc_id window → one row per output span

Scale properties, deliberately:
- **Kernel runs once per distinct media_ref**, not per occurrence — shared
  images across documents cost one forward pass; results fan back out
  with one left join, which the planner's size rule makes a broadcast or
  a shuffled join.
- **Documents are read twice, with no Union**: one ``posexplode`` feeds
  both span kinds, and the distinct-refs branch reads them once more.
- **Column pruning**: the G2 kernel needs only (ocr_lines, width, height);
  the potentially-huge ``image`` binary column leaves the scan only for
  G3 weights, whose CNN reads it.
- **Only Python boundary** is the Arrow-batched ``mapInArrow`` kernel; the
  boilerplate strip is JVM-side ``regexp_replace`` inside whole-stage
  codegen.
- **One doc_id shuffle** for reassembly: a window ``row_number`` numbers
  each doc's spans by (offset, array position, cell index), the one rule
  for every output offset. The explode and a broadcast join keep the
  input's partitioning, so docs bucketed by doc_id skip that shuffle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from ..core import boilerplate
from ..core.visual import is_visual

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("cell_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)

# driver-side memos: the content digest of each recent weights dict
# (hashing the 64 MB G3 artifact takes ~0.13 s, so it must not run on
# every query; an entry holds its dict so an id() key can't be recycled),
# and one broadcast per digest on the caller's SparkContext — repeated
# query invocations (and bench repeats) reuse the live broadcast instead
# of re-shipping the artifact, and each reused Python worker keeps the
# value it loaded in PySpark's broadcast registry. A broadcast holds its
# SparkContext, so entries of any other context are dropped: a stopped
# context is not kept alive.
_DIGESTS: dict = {}
_BC_CACHE: dict = {}


def weights_digest(wdict: dict) -> str:
    """md5 hex over each array's name, dtype, shape and bytes, in name
    order, memoized for the last 8 dicts: the broadcast cache key and the
    checkpoint lineage's weights fingerprint."""
    hit = _DIGESTS.get(id(wdict))
    if hit is None:
        h = hashlib.md5()
        for k in sorted(wdict):
            a = np.asarray(wdict[k])
            h.update(repr((k, a.dtype.str, a.shape)).encode())
            h.update(np.ascontiguousarray(a))
        if len(_DIGESTS) >= 8:
            del _DIGESTS[next(iter(_DIGESTS))]
        hit = _DIGESTS[id(wdict)] = (wdict, h.hexdigest())
    return hit[1]


def _broadcast_weights(sc, wdict: dict):
    """The broadcast of a weights dict on ``sc``: one live broadcast per
    content digest, created on the first call."""
    digest = weights_digest(wdict)
    for key in [k for k, (ctx, _) in _BC_CACHE.items() if ctx is not sc]:
        del _BC_CACHE[key]
    if digest not in _BC_CACHE:
        _BC_CACHE[digest] = (sc, sc.broadcast(wdict))
    return _BC_CACHE[digest][1]


def _kernel_fn(weights_bc, strategy: str = "knn"):
    """Build the Arrow-batched kernel (``mapInArrow``).

    Each record batch is decoded into flat arrays — every image's lines
    in line_id order, with row offsets — and handed to
    ``oracle.extract.run_kernel_batch`` in one call, the kernel the
    no-Spark oracle runs per image; the weights pick G2 or G3 there, and
    the ``image`` column is read only for G3. The nested ``ocr_lines``
    column is consumed straight from the Arrow buffers — per-line bboxes
    come from ``np.minimum/maximum.reduceat`` over the flat point arrays,
    and texts are taken by Arrow, never materializing per-point or
    per-line Python objects outside the kernel. (The
    earlier mapInPandas version did; at 32 concurrent workers the dict
    materialization contended so badly it ran 3.7× SLOWER than at 8
    workers — measured 6.7 s → 24.7 s for the same input.)

    The model's weights dict arrives via ``sparkContext.broadcast`` (one
    copy per executor, fetched once) — never the task closure, which is
    re-shipped to the Python worker on EVERY task. A reused worker
    unpickles it once: PySpark's worker-side broadcast registry keeps the
    loaded ``weights_bc.value`` for every later task.

    Lines with no points are dropped before graph construction (the
    oracle's ``run_kernel`` drops them too); a row left with no lines has
    no cells.
    """

    def fn(batches):
        from ..oracle.extract import run_kernel_batch

        w = weights_bc.value
        g3 = is_visual(w)

        for rb in batches:
            widths = rb.column("width").to_numpy(zero_copy_only=False)
            heights = rb.column("height").to_numpy(zero_copy_only=False)
            images = (
                rb.column("image").to_pylist() if g3
                else [None] * rb.num_rows
            )
            ocr = rb.column("ocr_lines")
            row_off = ocr.offsets.to_numpy(zero_copy_only=False)
            lines = ocr.values
            line_ids = lines.field("line_id").to_numpy(zero_copy_only=False)
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

            # the kept lines of every row, row by row, each row's in
            # (stable) line_id order
            row = np.repeat(np.arange(rb.num_rows), np.diff(row_off))
            kept = row_off[0] + np.flatnonzero(has_pts[row_off[0]:row_off[-1]])
            row = row[kept - row_off[0]]
            order = np.lexsort((line_ids[kept], row))
            kept = kept[order]
            node_off = np.searchsorted(row[order], np.arange(rb.num_rows + 1))

            cell_img, cells = run_kernel_batch(
                bboxes_all[kept],
                lines.field("text").take(pa.array(kept)).to_numpy(
                    zero_copy_only=False
                ),
                node_off,
                widths,
                heights,
                images,
                w,
                strategy,
            )
            # a cell's index within its image
            cell_idx = np.arange(len(cells)) - np.searchsorted(
                cell_img, cell_img
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("media_ref").take(pa.array(cell_img)),
                    pa.array(cell_idx, pa.int32()),
                    pa.array(cells, pa.string()),
                ],
                names=["media_ref", "cell_idx", "text"],
            )

    return fn


def recognize_tables(
    media_df: DataFrame,
    weights: dict,
    strategy: str = "knn",
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Distinct media rows → (media_ref, cell_idx, text) via the GNN kernel.

    The weights pick the model: G3 weights (``visual.is_visual``) also
    read the ``image`` binary column — the only path that does; G2 prunes
    it at the scan. The weights dict itself is the broadcast (one per
    content digest and context, :func:`_broadcast_weights`).

    Fan-out: the rows are round-robined into
    ``max(1, min(defaultParallelism, n_rows_bound))`` kernel tasks, one
    per core. Every task pays a fixed Python-worker cost before the
    kernel runs: an identity ``mapInArrow`` task on a reused worker took
    ~220 ms of worker CPU at PySpark 4.1.2 / Python 3.11, nearly all of
    it re-reading zip archives, and ~38 ms once ``zipdir.py`` skips
    unchanged ones (4-core VM; a 32-task job 2.2 s → 0.9 s, an 8-task one
    0.4 s). The kernel computes a whole record batch in array passes, so
    a task's cost grows with its image count, not per image call, and
    round-robin gives every task the same count; more tasks than cores
    only add that fixed cost (alternating pairs on the 600-image
    ``kernel_heavy`` benchmark, 4-core VM, favoured 1× over 2× cores).
    The cap by ``n_rows_bound`` (an upper bound on the
    input row count; omitted = no cap) keeps a small input from paying for
    tasks that get no rows. Nothing here counts the input to learn it: a
    media-table count costs two Spark jobs on every call (~80 ms median,
    4-core VM), more than the empty tasks it saves unless the input has
    fewer rows than cores.
    Round-robin, NOT hash-by-ref: each input row is one complete media
    (ref + all its ocr lines), so the kernel needs no key co-location —
    and hash partitioning leaves collision stragglers on small/skewed ref
    sets (two 300 ms visual-kernel images in one task = a 2× tail) where
    round-robin balances exactly."""
    sc = media_df.sparkSession.sparkContext
    cols = ["media_ref", "ocr_lines", "width", "height"]
    if is_visual(weights):
        cols.append("image")
    n_tasks = sc.defaultParallelism
    if n_rows_bound is not None:
        n_tasks = max(1, min(n_tasks, n_rows_bound))
    w_bc = _broadcast_weights(sc, weights)
    return (
        media_df.select(*cols)
        .repartition(n_tasks)
        .mapInArrow(_kernel_fn(w_bc, strategy), schema=CELLS_SCHEMA)
    )


def _all_spans(
    docs_df: DataFrame,
    media_df: DataFrame,
    weights: dict,
    strategy: str = "knn",
    n_rows_bound: int | None = None,
) -> DataFrame:
    """Shared pipeline core → un-numbered output spans
    (doc_id, orig_offset, pos, sub_idx, kind, text, media_ref).

    One ``posexplode`` feeds both span kinds: text spans are stripped in
    place and media spans left-join their cells. ``pos``, the span's
    array position, breaks ties between spans that share an ``offset``,
    as the oracle's stable sort does. Spans of any kind other than text
    and media emit nothing.

    ``n_rows_bound`` caps the kernel fan-out (see
    :func:`recognize_tables`, which also says why nothing counts the media
    table for it); omitted, the fan-out is defaultParallelism and
    building the plan runs no Spark job."""
    spans = (
        docs_df.select("doc_id", F.posexplode("spans").alias("pos", "s"))
        .select(
            "doc_id",
            "pos",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("orig_offset"),
        )
        .filter(F.col("kind").isin("text", "media"))
    )

    # kernel once per distinct ref; recognize_tables' column selection
    # prunes the image bytes column at the scan (unless the weights are G3)
    refs = spans.filter(F.col("kind") == "media").select("media_ref").distinct()
    cells = recognize_tables(
        refs.join(media_df, "media_ref"),
        weights,
        strategy,
        n_rows_bound=n_rows_bound,
    ).select(
        F.col("media_ref").alias("cell_ref"),
        "cell_idx",
        F.col("text").alias("cell_text"),
    )

    is_text = F.col("kind") == "text"
    # a media span whose ref has no media row, or whose image has no
    # cells, finds no cell and is dropped: the inner-join rule
    return (
        spans.join(
            cells,
            (F.col("media_ref") == F.col("cell_ref")) & ~is_text,
            "left",
        )
        .filter(is_text | F.col("cell_idx").isNotNull())
        .select(
            "doc_id",
            "orig_offset",
            "pos",
            F.coalesce("cell_idx", F.lit(0)).alias("sub_idx"),
            F.when(is_text, "main_text").otherwise("cell").alias("kind"),
            F.when(
                is_text, boilerplate.spark_strip_expr(F.col("text"))
            ).otherwise(F.col("cell_text")).alias("text"),
            F.when(is_text, "").otherwise(F.col("media_ref")).alias("media_ref"),
        )
    )


def extract_flat(
    docs_df: DataFrame, media_df: DataFrame, weights: dict, **kwargs
) -> DataFrame:
    """docs + media → one row per output span (doc_id, offset, kind, text,
    media_ref), offsets dense from 0 per doc; the semantics of
    ``oracle.extract_corpus`` (text → stripped 'main_text', media → one
    'cell' per table cell, a missing media_ref or any other kind → nothing).
    A window ``row_number`` numbers the offsets: a per-doc
    collect_list/array_sort aggregate was the benchmark's GC-heavy phase
    (~25 s at 72% CPU on the 80k-doc corpus)."""
    from pyspark.sql import Window

    all_spans = _all_spans(docs_df, media_df, weights, **kwargs)
    w = Window.partitionBy("doc_id").orderBy("orig_offset", "pos", "sub_idx")
    return all_spans.select(
        "doc_id",
        (F.row_number().over(w) - 1).alias("offset"),
        "kind",
        "text",
        "media_ref",
    )
