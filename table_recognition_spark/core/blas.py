"""Runtime BLAS thread clamping.

The env-var pin in ``table_recognition_spark/__init__`` only works if it
runs before numpy first loads. Inside a Spark python worker that WE
configured (session.py sets ``spark.executorEnv.*``) that always holds —
but the driver contract also runs our queries on a session we did not
build, where pyarrow/numpy may load before our package. A 32-thread
OpenBLAS on the kernel's tiny GEMMs is ~27× slower and 32 workers × 32
threads thrash the box, so the kernels also clamp at runtime via the
loaded OpenBLAS's own API (best-effort, idempotent)."""

from __future__ import annotations

import ctypes
import glob
import os

_DONE = False


def limit_blas_threads(n: int = 1) -> None:
    global _DONE
    if _DONE:
        return
    _DONE = True
    import numpy as np

    candidates = []
    for base in np.__path__:
        candidates += glob.glob(
            os.path.join(base, "..", "numpy.libs", "libopenblas*")
        )
        candidates += glob.glob(os.path.join(base, "*.libs", "libopenblas*"))
    for path in candidates:
        try:
            lib = ctypes.CDLL(path)  # same handle as the loaded copy
        except OSError:
            continue  # best-effort: the env-var pin remains the primary mechanism
        for fn in (
            "openblas_set_num_threads64_",
            "openblas_set_num_threads",
        ):
            f = getattr(lib, fn, None)
            if f is not None:
                f(int(n))
                return
