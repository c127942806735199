"""Per-process patch for Spark Python workers: stat-gated zip re-reads.

Before every task, pyspark's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. On Python 3.11 that makes every
`zipimporter` on `sys.path_importer_cache` re-read its archive's whole
central directory. A worker holds one importer per imported pyspark
subpackage, all over the same `pyspark.zip`, so each task paid ~0.15 s of
CPU re-reading an archive that had not changed, on warm, reused workers too.

`patch_worker()` swaps `zipimport.zipimporter.invalidate_caches` for a gated
method that re-reads an archive only when its `(st_mtime_ns, st_size)`
differs from the stamp taken just before its last read. An archive with
no stamp yet, or one that cannot be stat'ed, goes to the stdlib method
(which drops a missing archive's entries). Every other finder is
invalidated as before.

It patches only inside a Spark Python worker
(`SparkFiles._is_running_on_worker`, set by `setup_spark_files` before any
UDF is unpickled) and runs from `engine/__init__.py`, which a worker
imports when it unpickles a module-level engine body. A body defined inside
a function is pickled by value and names no engine module, so it calls
`patch_worker()` itself (tests/test_pyworker.py checks every such body).
The worker's first task still pays (its invalidation runs before the
unpickle); every later task on that worker takes the gated path.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_STAMPS: dict[str, tuple[int, int]] = {}
# gated calls, and how many of them re-read the archive (per process)
_COUNTS = {"calls": 0, "reads": 0}


def _gated_invalidate_caches(self):
    """`zipimporter.invalidate_caches`, skipping the re-read of an archive
    whose stamp is unchanged since its last read."""
    _COUNTS["calls"] += 1
    try:
        st = os.stat(self.archive)
    except OSError:
        _STAMPS.pop(self.archive, None)
        _COUNTS["reads"] += 1
        return _STDLIB_INVALIDATE(self)
    stamp = (st.st_mtime_ns, st.st_size)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if cached is not None and _STAMPS.get(self.archive) == stamp:
        # the importers of one archive share its directory, as freshly
        # built importers would
        self._files = cached
        return None
    # stamp first: a rewrite during the read leaves a stamp that differs.
    # A failed read drops the archive from the directory cache, so the
    # next call reads again whatever the stamp says
    _STAMPS[self.archive] = stamp
    _COUNTS["reads"] += 1
    return _STDLIB_INVALIDATE(self)


def patch_worker() -> bool:
    """Install the gated method in a Spark Python worker; a no-op anywhere
    else (a process that never imported `pyspark.core.files` is not a
    worker, so the check costs no pyspark import). Idempotent. Returns
    whether the gated method is installed."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return False
    zipimport.zipimporter.invalidate_caches = _gated_invalidate_caches
    return True
