"""The timed unit of work and the loop that runs and checks it."""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import digest

HERE = os.path.dirname(os.path.abspath(__file__))

# Iteration times keep falling for about ten iterations in one process,
# more than a run can afford to wait out. So every run warms up with the
# same number of iterations and times at least the same number after it:
# each run's median then comes from the same stretch of the drift.
WARMUP = 2
TIMED_MIN = 4


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Job:
    """The workload's full-result job. ``run()`` returns (seconds, digest);
    only the extraction itself is inside the seconds."""

    def __init__(self, spark, w, docs, media, weights):
        self.spark, self.w = spark, w
        self.docs, self.media, self.weights = docs, media, weights
        self.n = 0
        self.last_bytes = 0

    def run(self):
        self.n += 1
        if self.w.job == "flat":
            from table_recognition_spark.pipeline.extract import extract_flat

            t0 = time.perf_counter()
            got = digest.spark_digest(
                extract_flat(self.docs, self.media, self.weights)
            )
            return time.perf_counter() - t0, got
        from table_recognition_spark.pipeline.checkpoint import (
            CheckpointedExtract,
        )

        out_dir = os.path.join(HERE, ".work", "checkpoint", str(self.n))
        shutil.rmtree(out_dir, ignore_errors=True)
        ck = CheckpointedExtract(out_dir, n_chunks=self.w.n_chunks)
        t0 = time.perf_counter()
        ck.run(self.spark, self.docs, self.media, self.weights)
        secs = time.perf_counter() - t0
        try:
            flat = ck.read_output(self.spark).select(
                "doc_id", F.explode("spans").alias("s")
            ).select("doc_id", "s.offset", "s.kind", "s.text", "s.media_ref")
            got = digest.spark_digest(flat)
            self.last_bytes = tree_bytes(ck.data_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        return secs, got


class Runner:
    """Runs iterations and counts the ones that raise or mismatch."""

    def __init__(self, job: Job, expected: dict):
        self.job = job
        self.expected = expected
        self.log: list = []  # every iteration, warm-up included

    def once(self, phase: str) -> float | None:
        t0 = time.perf_counter()
        try:
            secs, got = self.job.run()
        except Exception as e:  # an iteration that raises counts as failed
            self.log.append({"phase": phase, "ok": False, "error": repr(e),
                             "s": time.perf_counter() - t0})
            return None
        ok = digest.same(got, self.expected)
        self.log.append({"phase": phase, "ok": ok, "s": secs, "digest": got})
        return secs if ok else None

    def warm_up(self) -> None:
        for _ in range(WARMUP):
            self.once("warmup")

    def timed(self, seconds: float) -> list:
        """Iterate for ``seconds`` (at least TIMED_MIN times); returns the
        times of the iterations that passed."""
        times = []
        t0 = time.perf_counter()
        n = 0
        while n < TIMED_MIN or time.perf_counter() - t0 < seconds:
            s = self.once("timed")
            n += 1
            if s is not None:
                times.append(s)
        return times


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}
