"""Checkpointed, resumable extraction runs.

The north rule requires: hash-partition by doc_id, per-partition progress
checkpointing with lineage + throughput metrics, resume from the last
committed snapshot. Iceberg jars are not in this environment, so the same
snapshot/commit contract is implemented on a plain directory layout
(swappable for Iceberg ``writeTo(...).append()`` + a ``_progress`` table
without touching the pipeline):

    out_dir/
      data/chunk=K/*.parquet     -- doc-hash chunk K's (doc_id, spans):
                                    extract_flat's rows, nested per doc
      _progress/chunk_K.parquet  -- the commit record for chunk K

Commit protocol: write data for chunk K (idempotent overwrite of the
chunk directory), then atomically publish the progress record (write to a
temp name, rename). A chunk is committed iff its progress record exists —
a crash between the two steps re-runs the chunk, overwriting
deterministically identical output (idempotent). Resume = skip committed
chunks. Each record carries lineage (a digest of the docs and media input
files, the weights fingerprint, the chunk count and the chunk predicate)
and docs/sec; a run refuses to resume over records whose lineage differs
from its own, since their chunks would mix with its outputs.
"""

from __future__ import annotations

import hashlib
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .extract import extract_flat, weights_digest

PROGRESS_SCHEMA = pa.schema(
    [
        ("chunk", pa.int32()),
        ("n_chunks", pa.int32()),
        ("n_docs", pa.int64()),
        ("n_spans", pa.int64()),
        ("seconds", pa.float64()),
        ("docs_per_sec", pa.float64()),
        ("lineage", pa.string()),
        ("finished_at", pa.float64()),
    ]
)


class SimulatedCrash(RuntimeError):
    """Raised by ``CheckpointedExtract.run(fail_after=N)``."""


class CheckpointedExtract:
    def __init__(self, out_dir: str, n_chunks: int = 16):
        self.out_dir = out_dir
        self.n_chunks = n_chunks
        self.data_dir = os.path.join(out_dir, "data")
        self.progress_dir = os.path.join(out_dir, "_progress")
        os.makedirs(self.progress_dir, exist_ok=True)

    def committed(self) -> set:
        return {
            int(f[len("chunk_") : -len(".parquet")])
            for f in os.listdir(self.progress_dir)
            if f.startswith("chunk_") and f.endswith(".parquet")
        }

    def _lineage(self, docs_df: DataFrame, media_df: DataFrame,
                 weights: dict) -> str:
        """What every committed chunk must share with this run."""
        w_fp = weights_digest(weights)[:12]
        # [] for an in-memory DataFrame
        files = sorted(docs_df.inputFiles()) + ["|"] + sorted(
            media_df.inputFiles())
        in_fp = hashlib.md5("\n".join(files).encode()).hexdigest()[:12]
        return (f"inputs=md5:{in_fp};weights=md5:{w_fp};"
                f"n_chunks={self.n_chunks}")

    def _check_lineage(self, lineage: str) -> None:
        for chunk in sorted(self.committed()):
            path = os.path.join(self.progress_dir, f"chunk_{chunk}.parquet")
            got = pq.read_table(path, columns=["lineage"])["lineage"][0]
            got = got.as_py().split(";predicate=")[0]
            if got != lineage:
                raise ValueError(
                    f"chunk {chunk} in {self.out_dir} was committed under "
                    f"{got!r}, this run is {lineage!r}: resume needs the "
                    "same inputs, weights and chunk count (clear the "
                    "output directory to start over)"
                )

    def _chunk_predicate(self, chunk: int):
        return F.pmod(F.xxhash64("doc_id"), F.lit(self.n_chunks)) == chunk

    def _commit(self, chunk: int, n_docs: int, n_spans: int, secs: float,
                lineage: str) -> None:
        table = pa.table(
            {
                "chunk": [chunk],
                "n_chunks": [self.n_chunks],
                "n_docs": [n_docs],
                "n_spans": [n_spans],
                "seconds": [secs],
                "docs_per_sec": [n_docs / secs if secs > 0 else 0.0],
                "lineage": [lineage],
                "finished_at": [time.time()],
            },
            schema=PROGRESS_SCHEMA,
        )
        tmp = os.path.join(self.progress_dir, f".chunk_{chunk}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.progress_dir, f"chunk_{chunk}.parquet"))

    def run(
        self,
        spark: SparkSession,
        docs_df: DataFrame,
        media_df: DataFrame,
        weights: dict,
        fail_after: int | None = None,
    ) -> int:
        """Process all uncommitted chunks; returns how many chunks ran.
        Raises ``ValueError`` before any work when a committed chunk's
        lineage differs from this run's. ``fail_after=N`` raises
        :class:`SimulatedCrash` after N chunk commits (tests)."""
        lineage = self._lineage(docs_df, media_df, weights)
        self._check_lineage(lineage)
        done = 0
        for chunk in range(self.n_chunks):
            if chunk in self.committed():
                continue
            t0 = time.time()
            part = docs_df.filter(self._chunk_predicate(chunk))
            counts = Observation()
            # one row per doc, its spans sorted by their dense offsets
            span = F.struct("kind", "text", "media_ref", "offset")
            by_offset = F.sort_array(
                F.collect_list(F.struct("offset", span.alias("s"))))
            out = extract_flat(part, media_df, weights).groupBy("doc_id").agg(
                by_offset.alias("t")
            ).select("doc_id", F.col("t.s").alias("spans")).observe(
                counts,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
            )
            chunk_dir = os.path.join(self.data_dir, f"chunk={chunk}")
            out.write.mode("overwrite").parquet(chunk_dir)
            n = counts.get
            secs = time.time() - t0
            self._commit(
                chunk, n["n_docs"], n["n_spans"] or 0, secs,
                f"{lineage};predicate=pmod(xxhash64(doc_id),"
                f"{self.n_chunks})=={chunk}",
            )
            done += 1
            if fail_after is not None and done >= fail_after:
                raise SimulatedCrash(f"simulated crash after {done} chunks")
        return done

    def read_output(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.data_dir, "chunk=*"))

    def read_progress(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.progress_dir, "chunk_*.parquet")
        )
