"""Reused Python workers keep their per-process state across tasks: zip
archive directories (``zipdir.py``) and the loaded kernel weights
(PySpark's broadcast registry)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from table_recognition_spark import zipdir

needs_lazy_zip_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ re-reads zip directories lazily; no wrapper",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@needs_lazy_zip_reread
def test_unchanged_zip_not_reread_changed_zip_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipdir_m1": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zipdir_m1", "zipdir_m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zipdir_m1")

    # undone after the test: the class attribute, the read log, the env
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipdir, "_READ_SIG", {})
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    zipdir.reread_changed_zips_only()
    zipdir.reread_changed_zips_only()  # a second install is a no-op

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zipdir_m1": "X = 1\n", "zipdir_m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zipdir_m2").Y == 2


def test_driver_keeps_stock_invalidate_caches(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.delenv("SPARK_REUSE_WORKER", raising=False)
    before = zipimport.zipimporter.invalidate_caches
    zipdir.reread_changed_zips_only()
    assert zipimport.zipimporter.invalidate_caches is before


@needs_lazy_zip_reread
@pytest.mark.spark
def test_reused_worker_task_reads_no_unchanged_zip(spark):
    """Every task after a worker's first reads no zip directory in its
    set-up (PySpark's per-task ``importlib.invalidate_caches``)."""

    def probe(it):
        import os
        import sys
        import zipimport

        import table_recognition_spark  # noqa: F401  installs the wrapper

        st = getattr(sys, "_zip_read_probe", None)
        if st is None:
            st = sys._zip_read_probe = {"reads": 0, "seen": False}
            read_directory = zipimport._read_directory

            def counting(path):
                st["reads"] += 1
                return read_directory(path)

            zipimport._read_directory = counting
        since_last = st["reads"] if st["seen"] else None
        for _ in it:
            pass
        st["reads"], st["seen"] = 0, True
        yield os.getpid(), since_last

    sc = spark.sparkContext
    n = 2 * sc.defaultParallelism
    got = []
    for _ in range(3):
        got += sc.parallelize(range(n), n).mapPartitions(probe).collect()
    reused = [reads for _pid, reads in got if reads is not None]
    assert reused, "no task ran on a reused worker"
    assert reused == [0] * len(reused)


@pytest.mark.spark
def test_weights_parsed_once_per_worker(spark, weights):
    """Across 3 × cores kernel tasks, each Python worker unpickles the
    broadcast weights once: every task on it sees one weights object,
    the value PySpark's worker-side broadcast registry keeps."""
    from table_recognition_spark.fixtures.generate import (
        corpus_to_spark,
        make_corpus,
    )

    from table_recognition_spark.pipeline import extract as ex
    bc = ex._broadcast_weights(spark.sparkContext, weights)
    kernel = ex._kernel_fn(bc)

    def probe(batches):
        import os
        import sys

        import pyarrow as pa

        seen = getattr(sys, "_weights_probe", None)
        if seen is None:
            seen = sys._weights_probe = []
        w = bc.value
        seen.append(w)  # held, so no id() is recycled
        n_cells = sum(out.num_rows for out in kernel(batches))
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "wid": [id(w)], "cells": [n_cells],
        })

    n_tasks = 3 * spark.sparkContext.defaultParallelism
    docs, media, _ = make_corpus(1, n_tasks, seed=3)
    _, media_df = corpus_to_spark(spark, docs, media)
    rows = (
        media_df.select("media_ref", "ocr_lines", "width", "height")
        .repartition(n_tasks)
        .mapInArrow(probe, schema="pid long, wid long, cells long")
        .collect()
    )
    assert sum(r["cells"] for r in rows) > 0
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["pid"], set()).add(r["wid"])
    assert len(by_pid) < len(rows), "no task ran on a reused worker"
    assert all(len(ids) == 1 for ids in by_pid.values()), by_pid


def test_broadcast_cache_holds_only_the_callers_context(weights, monkeypatch):
    """Driver side, one broadcast of the weights dict itself per weights
    content on the caller's SparkContext: the same dict on the same
    context broadcasts once, and a second context gets its own broadcast
    while the cache drops the first's (a broadcast holds its context, so
    a stopped one would stay alive)."""
    from table_recognition_spark.pipeline import extract as ex

    class Context:
        def __init__(self):
            self.sent = []

        def broadcast(self, value):
            self.sent.append(value)
            return object()

    monkeypatch.setattr(ex, "_BC_CACHE", {})
    first, second = Context(), Context()
    bc = ex._broadcast_weights(first, weights)
    assert ex._broadcast_weights(first, weights) is bc
    assert len(first.sent) == 1 and first.sent[0] is weights

    bc2 = ex._broadcast_weights(second, weights)
    assert len(second.sent) == 1 and bc2 is not bc
    assert [ctx for ctx, _ in ex._BC_CACHE.values()] == [second]
