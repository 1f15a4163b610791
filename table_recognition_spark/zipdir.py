"""Skip zipimport's directory re-read for unchanged archives in reused
PySpark workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). Before
Python 3.13, every cached ``zipimporter`` then re-reads its archive's
central directory on the spot: with PySpark 4.1.2 on Python 3.11 that is
12 reads of ``pyspark.zip`` (1,328 entries) and 2 of the Spark core jar
(5,359 entries), ~220 ms of CPU per task before the task's function runs
(4-core VM). Python 3.13 made the re-read lazy.

:func:`reread_changed_zips_only` makes ``invalidate_caches`` re-read an
archive only when its ``(st_mtime_ns, st_size)`` differs from the one seen
before its last read, or ``stat`` fails. A changed archive is still
re-read, so imports see the same files as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size), stat'ed just before the read that
# produced zipimport's cached directory for it
_READ_SIG: dict = {}


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def reread_changed_zips_only() -> None:
    """Install the wrapper around ``zipimporter.invalidate_caches``.

    Acts only before Python 3.13 and in a reused PySpark worker
    (``SPARK_REUSE_WORKER`` is set there, not in the driver); installing
    twice is a no-op. On install, each archive already imported from is
    read once more, so every later unchanged task reads none."""
    if sys.version_info >= (3, 13) or "SPARK_REUSE_WORKER" not in os.environ:
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "rereads_changed_only", False):
        return

    def invalidate_caches(self):
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and _READ_SIG.get(
            self.archive
        ) == sig:
            # unchanged since the last read: share that read's directory,
            # as the re-read would have
            self._files = files
            return
        reread(self)
        if self.archive in zipimport._zip_directory_cache:
            _READ_SIG[self.archive] = sig
        else:
            _READ_SIG.pop(self.archive, None)

    invalidate_caches.rereads_changed_only = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
