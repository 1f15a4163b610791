"""Reused Python workers keep their per-process state across tasks: zip
archive directories (``zipdir.py``) and parsed kernel weights
(``pipeline.extract._cached_weights``)."""

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
def test_weights_parsed_once_per_worker(spark, weights, tmp_path):
    """Across 3 × cores kernel tasks, each Python worker parses the
    broadcast weights at most once."""
    import uuid

    from table_recognition_spark.core.gnn import weights_to_bytes
    from table_recognition_spark.fixtures.generate import (
        corpus_to_spark,
        make_corpus,
    )
    from table_recognition_spark.pipeline.extract import (
        CELLS_SCHEMA,
        _kernel_fn,
    )

    class LoggingBroadcast:
        """Broadcast stand-in that logs the reading worker's PID:
        ``.value`` is read only to parse the weights."""

        def __init__(self, data, log_dir):
            self.data, self.log_dir = data, log_dir

        @property
        def value(self):
            import os

            with open(os.path.join(self.log_dir, "reads"), "a") as f:
                f.write(f"{os.getpid()}\n")
            return self.data

    n_tasks = 3 * spark.sparkContext.defaultParallelism
    docs, media, _ = make_corpus(1, n_tasks, seed=3)
    _, media_df = corpus_to_spark(spark, docs, media)
    bc = LoggingBroadcast(weights_to_bytes(weights), str(tmp_path))
    kernel = _kernel_fn(bc, uuid.uuid4().hex)  # a digest no worker has seen
    rows = (
        media_df.select("media_ref", "ocr_lines", "width", "height")
        .repartition(n_tasks)
        .mapInArrow(kernel, schema=CELLS_SCHEMA)
        .collect()
    )
    assert rows
    pids = (tmp_path / "reads").read_text().split()
    assert pids, "no worker parsed the weights"
    assert len(pids) == len(set(pids)), f"parsed twice in a worker: {pids}"
    assert len(pids) < n_tasks, "no task ran on a reused worker"
