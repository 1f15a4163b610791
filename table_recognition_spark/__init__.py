"""table_recognition_spark — PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference pipeline (lpiwowar/table-recognition): given an Iceberg-style
table of interleaved text+media documents, text spans pass through a
vectorized boilerplate-strip classifier and media spans referencing table
images run a GNN table-recognition kernel (k-NN graph over OCR text-line
boxes, geometry features, message-passing node/edge classification, cell
text assembly) inside pandas/Arrow UDFs. Output is re-emitted as ordered
spans (kind, text, media_ref, offset).

Layout:
  core/       pure-numpy kernel primitives shared by the single-node oracle
              and the Spark executors (bit-exact parity by construction)
  oracle/     no-Spark reference implementation (the equality target)
  fixtures/   seeded synthetic corpus generator (docs / media / gt_cells)
  pipeline/   the distributed Spark pipeline + checkpoint/resume layer
  operators/  training-data-pipeline operators (dedup, similarity, text stats,
              multimodal plumbing)
  queries/    relational demonstration queries over the TPC-H-ish testdata
"""

__version__ = "0.1.0"

# Pin BLAS to one thread BEFORE numpy loads anywhere in this package.
# Two reasons, both load-bearing:
# 1. Throughput: the GNN kernel does thousands of tiny GEMMs; a 32-thread
#    OpenBLAS spends ~27× the wall-clock in thread sync (measured
#    4.03 s → 0.147 s per 200 images), and 32 Spark python workers ×
#    32 BLAS threads would thrash the machine.
# 2. Parity: single- vs multi-threaded GEMM differ in summation order
#    (≈1e-5 logit drift, measured); pinning both the oracle and every
#    executor to the same single-thread path keeps the span-equality
#    contract bit-exact. session.py mirrors this via spark.executorEnv.
import os as _os

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    _os.environ.setdefault(_v, "1")

# Reused PySpark workers re-read every zip archive on sys.path at the start
# of each task; keep the read while the archive is unchanged (zipdir.py).
# Unpickling any of this package's functions imports it, so this covers
# every Python worker the package uses.
from .zipdir import reread_changed_zips_only as _reread_changed_zips_only

_reread_changed_zips_only()
