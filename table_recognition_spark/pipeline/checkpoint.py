"""Checkpointed, resumable extraction runs.

The north rule requires: hash-partition by doc_id, per-partition progress
checkpointing with lineage + throughput metrics, resume from the last
committed snapshot. Iceberg jars are not in this environment, so the same
snapshot/commit contract is implemented on a plain directory layout
(swappable for Iceberg ``writeTo(...).append()`` + a ``_progress`` table
without touching the pipeline):

    out_dir/
      data/chunk=K/*.parquet     -- output spans for doc-hash chunk K
      _progress/chunk_K.parquet  -- the commit record for chunk K

Commit protocol: write data for chunk K (idempotent overwrite of the
chunk directory), then atomically publish the progress record (write to a
temp name, rename). A chunk is committed iff its progress record exists —
a crash between the two steps re-runs the chunk, overwriting
deterministically identical output (idempotent). Resume = skip committed
chunks. Each record carries lineage (inputs, weights fingerprint,
predicate) and docs/sec.
"""

from __future__ import annotations

import hashlib
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.gnn import weights_to_bytes
from .extract import extract

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
        ``fail_after=N`` simulates a crash after N chunk commits (tests)."""
        w_fp = hashlib.md5(weights_to_bytes(weights)).hexdigest()[:12]
        files = docs_df.inputFiles()  # [] for an in-memory DataFrame
        inputs = files[0] if files else "in-memory"
        done = 0
        for chunk in range(self.n_chunks):
            if chunk in self.committed():
                continue
            t0 = time.time()
            part = docs_df.filter(self._chunk_predicate(chunk))
            out = extract(part, media_df, weights)
            chunk_dir = os.path.join(self.data_dir, f"chunk={chunk}")
            out.write.mode("overwrite").parquet(chunk_dir)
            row = (
                spark.read.parquet(chunk_dir)
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum(F.size("spans")).alias("n_spans"),
                )
                .collect()[0]
            )
            n_docs, n_spans = row["n_docs"], row["n_spans"]
            secs = time.time() - t0
            lineage = (
                f"inputs={inputs};weights=md5:{w_fp};"
                f"predicate=pmod(xxhash64(doc_id),{self.n_chunks})=={chunk}"
            )
            self._commit(chunk, n_docs, int(n_spans or 0), secs, lineage)
            done += 1
            if fail_after is not None and done >= fail_after:
                raise RuntimeError(f"simulated crash after {done} chunks")
        return done

    def read_output(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.data_dir, "chunk=*"))

    def read_progress(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.progress_dir, "chunk_*.parquet")
        )
