"""Per-layer measurements for a traced run (``--trace 1``).

Everything here is timed from outside the program: noop-sink jobs over
prefixes of the pipeline, single-thread calls into ``core``, DataFrame
counts, and Spark's status tracker over a job group per iteration. The
formulas are listed in perfbench/README.md.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import time

from pyspark.sql import functions as F

import corpus
import proctree
from job import HERE, Job, Runner, metric

LAYER_REPS = 3
CORE_REPS = 3
# plain/traced pairs at least; two pairs make one ABBA round. Fewer than a
# plain run's iterations, so a traced run stays well inside its time limit.
PAIRS_MIN = 2


def _median(xs: list) -> float | None:
    return statistics.median(xs) if xs else None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, reps: int = LAYER_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _group_counts(spark, group: str) -> list:
    """[jobs, stages, tasks, failed tasks] of one job group. Stages that
    were skipped (their shuffle output reused) have no tasks and are not
    counted."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return [len(jobs), stages, tasks, failed]


def _traced_once(spark, runner, group: str) -> tuple:
    """One iteration in its own job group, with process-tree CPU read
    before and after; returns (seconds or None, cpu seconds, counts)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    c0 = proctree.tree_cpu_seconds(os.getpid())
    s = runner.once("traced")
    cpu = proctree.tree_cpu_seconds(os.getpid()) - c0
    counts = _group_counts(spark, group)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return s, cpu, counts


def _alternate(spark, runner, seconds: float) -> dict:
    """Plain and traced iterations for ``seconds``, in ABBA order so the
    run's drift favours neither side."""
    out = {"plain": [], "traced": [], "cpu_s": [], "groups": []}

    def plain():
        s = runner.once("timed")
        if s is not None:
            out["plain"].append(s)

    def traced():
        s, cpu, counts = _traced_once(
            spark, runner, f"perfbench-{len(out['groups'])}"
        )
        out["cpu_s"].append(cpu)
        out["groups"].append(counts)
        if s is not None:
            out["traced"].append(s)

    t0 = time.perf_counter()
    while len(out["groups"]) < PAIRS_MIN or time.perf_counter() - t0 < seconds:
        first, second = (plain, traced) if len(out["groups"]) % 2 == 0 else (
            traced, plain)
        first()
        second()
    return out


def _core_times(media_rows: list, weights: dict) -> dict:
    """Single-thread seconds per kernel phase, summed over the images."""
    from table_recognition_spark.core import assemble, geometry, gnn, knn
    from table_recognition_spark.core.bbox import polygons_to_bboxes
    from table_recognition_spark.core.blas import limit_blas_threads

    limit_blas_threads(1)
    images = []
    for m in media_rows:
        lines = sorted(m["ocr_lines"], key=lambda ln: ln["line_id"])
        if lines:
            polys = [[(p["x"], p["y"]) for p in ln["points"]] for ln in lines]
            images.append((polygons_to_bboxes(polys),
                           [ln["text"] for ln in lines],
                           m["width"], m["height"]))
    reps = {"graph": [], "features": [], "gnn": [], "assemble": []}
    for _ in range(CORE_REPS):
        acc = dict.fromkeys(reps, 0.0)
        for b, texts, width, height in images:
            t0 = time.perf_counter()
            edges = knn.knn_edges(b)
            t1 = time.perf_counter()
            x = geometry.node_features(b, width, height)
            e = geometry.edge_features(edges, b, width, height)
            t2 = time.perf_counter()
            _, edge_cls = gnn.decode(*gnn.forward(x, edges, e, weights))
            t3 = time.perf_counter()
            assemble.assemble_cells(edges, edge_cls, b, texts)
            t4 = time.perf_counter()
            acc["graph"] += t1 - t0
            acc["features"] += t2 - t1
            acc["gnn"] += t3 - t2
            acc["assemble"] += t4 - t3
        for k, v in acc.items():
            reps[k].append(v)
    return {k: statistics.median(v) for k, v in reps.items()}


def _distinct_media(prep: dict) -> list:
    refs = {
        s["media_ref"]
        for d in corpus.read_docs(prep["docs_path"])
        for s in d["spans"]
        if s["kind"] == "media"
    }
    return [m for m in corpus.read_media(prep["media_path"])
            if m["media_ref"] in refs]


def measure(spark, w, runner, docs, media, weights, prep, *, seconds,
            session_s, warmup_s) -> tuple:
    """Per-layer metrics of a traced run, and the raw iteration record."""
    from table_recognition_spark.core import boilerplate
    from table_recognition_spark.pipeline.checkpoint import CheckpointedExtract
    from table_recognition_spark.pipeline.extract import (
        _all_spans, recognize_tables,
    )

    traced = _alternate(spark, runner, seconds)
    job_s = _median(traced["plain"])
    traced_s = _median(traced["traced"])
    cores = spark.sparkContext.defaultParallelism

    # pipeline prefixes, each run to a noop sink
    spans = docs.select("doc_id", F.explode("spans").alias("s"))
    text = spans.filter(F.col("s.kind") == "text").select(
        "doc_id", boilerplate.spark_strip_expr(F.col("s.text")).alias("text")
    )
    refs = (
        spans.filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    kin = refs.join(
        media.select("media_ref", "ocr_lines", "width", "height"), "media_ref"
    )
    n_media_rows = media.count()
    cells = recognize_tables(kin, weights, n_rows_bound=n_media_rows)
    t_explode = _median_time(lambda: _noop(spans))
    t_strip = _median_time(lambda: _noop(text))
    t_join = _median_time(lambda: _noop(kin))
    t_kernel = _median_time(lambda: _noop(cells))
    t_all = _median_time(lambda: _noop(_all_spans(docs, media, weights)))

    core = _core_times(_distinct_media(prep), weights)
    compute = sum(core.values())

    span_row = spans.agg(
        F.count(F.lit(1)),
        F.sum((F.col("s.kind") == "text").cast("long")),
        F.sum((F.col("s.kind") == "media").cast("long")),
    ).collect()[0]
    n_refs = refs.count()
    n_kin = kin.count()
    last = next((r["digest"] for r in reversed(runner.log) if "digest" in r),
                {"spans": None, "cells": None})

    # the checkpoint layer: timed iterations on the checkpointed workload,
    # one run of CheckpointedExtract.run on the others
    if w.job == "checkpoint":
        ck_s = _median(traced["plain"] + traced["traced"])
        ck_bytes = runner.job.last_bytes
    else:
        ck_job = Job(spark, dataclasses.replace(w, job="checkpoint"), docs,
                     media, weights)
        ck_runner = Runner(ck_job, runner.expected)
        ck_s = ck_runner.once("checkpoint")
        ck_bytes = ck_job.last_bytes
        runner.log.extend(ck_runner.log)
    probe = CheckpointedExtract(
        os.path.join(HERE, ".work", "chunk-probe"), n_chunks=w.n_chunks
    )
    kernel_images = sum(
        docs.filter(probe._chunk_predicate(k))
        .select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
        .join(media.select("media_ref"), "media_ref")
        .count()
        for k in range(w.n_chunks)
    )

    jobs, stages, tasks, failed = traced["groups"][-1]
    s, c = "s", "count"
    return {
        "extract.explode_s": metric(t_explode, s),
        "boilerplate.strip_s": metric(t_strip - t_explode, s),
        "extract.ref_join_s": metric(t_join - t_explode, s),
        "extract.kernel_s": metric(t_kernel - t_join, s),
        "core.graph_s": metric(core["graph"], s),
        "core.features_s": metric(core["features"], s),
        "core.gnn_s": metric(core["gnn"], s),
        "core.assemble_s": metric(core["assemble"], s),
        "core.kernel_compute_s": metric(compute, s),
        "extract.kernel_boundary_s": metric(
            (t_kernel - t_join) - compute / cores, s
        ),
        "extract.fanout_union_s": metric(
            t_all - t_strip - t_kernel + t_explode, s
        ),
        "extract.reassembly_s": metric(
            None if job_s is None else job_s - t_all, s
        ),
        "checkpoint.per_chunk_s": metric(
            None if ck_s is None else ck_s / w.n_chunks, s
        ),
        "checkpoint.kernel_images": metric(kernel_images, c),
        "checkpoint.recompute_ratio": metric(
            kernel_images / n_kin if n_kin else None, "ratio"
        ),
        "checkpoint.bytes_written": metric(ck_bytes, "bytes"),
        "count.docs": metric(docs.count(), c),
        "count.spans": metric(int(span_row[0]), c),
        "count.text_spans": metric(int(span_row[1] or 0), c),
        "count.media_spans": metric(int(span_row[2] or 0), c),
        "count.distinct_refs": metric(n_refs, c),
        "count.refs_missing": metric(n_refs - n_kin, c),
        "count.empty_images": metric(
            kin.filter(F.size("ocr_lines") == 0).count(), c
        ),
        "count.out_spans": metric(last["spans"], c),
        "count.cells": metric(last["cells"], c),
        "count.kernel_tasks": metric(cells.rdd.getNumPartitions(), c),
        "spark.jobs": metric(jobs, c),
        "spark.stages": metric(stages, c),
        "spark.tasks": metric(tasks, c),
        "spark.failed_tasks": metric(failed, c),
        "proc.cpu_s": metric(_median(traced["cpu_s"]), s),
        "setup.session_s": metric(session_s, s),
        "setup.warmup_s": metric(warmup_s, s),
        "trace.overhead_s": metric(
            None if None in (job_s, traced_s) else traced_s - job_s, s
        ),
    }, traced


def counts_match(metrics: dict, expected: dict) -> bool:
    """count.docs, count.out_spans and count.cells equal the oracle's."""
    def value(name):
        return (metrics.get(name) or {}).get("value")

    return (
        value("count.docs") == expected["docs"]
        and value("count.out_spans") == expected["digest"]["spans"]
        and value("count.cells") == expected["digest"]["cells"]
    )
