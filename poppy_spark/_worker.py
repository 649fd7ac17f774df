"""Per-process tuning for Spark Python worker processes: two per-task costs
that Spark's worker loop pays in every reused worker and that are unrelated
to the task's own work.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py``, ``setup_spark_files``).  Before CPython
3.13 that makes every cached ``zipimporter`` re-parse its archive's whole
central directory: a worker holds one importer per package imported from
``pyspark.zip`` (14-16 of them, 1,328 entries each): ~118 ms of CPU per
task, measured standalone on a 4-core x86-64 VM.  CPython 3.13 made ``invalidate_caches`` lazy; this
module backports that for older interpreters, keyed on the archive's stat so
a rewritten zip is still re-read.

Spark's daemon runs a full ``gc.collect()`` after every task of a reused
worker (``pyspark/daemon.py``).  A full collection walks every tracked
object, and the numpy, pyarrow, pandas, pyspark and poppy_spark imports
leave ~74k of them: ~27 ms per collection in a bare interpreter, ~45 ms
per task inside the workers (4-core x86-64 VM).  That same per-task ``invalidate_caches()``
call runs :func:`freeze_at_task_start`'s hook, which ``gc.freeze()``s the
survivors of the collection that just ran (modules, caches) into the
permanent generation, so the next after-task collection walks only what
the task itself made.  Frozen objects are still freed by reference
counting; only cycles among them are never collected.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> ``(st_mtime_ns, st_size)`` taken just before its
#: directory was last read into ``zipimport._zip_directory_cache``
_stamps: dict[str, tuple[int, int]] = {}


def _lazy_invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive changed since the
    last read by any importer; otherwise share the cached directory."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stamps.pop(archive, None)
        _stdlib_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    # stamp before reading: a rewrite racing the read changes the stat
    # again, so the next call re-reads
    _stamps[archive] = stamp
    _stdlib_invalidate_caches(self)


def install_lazy_zip_invalidation() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process; a no-op on
    CPython >= 3.13, whose own is already lazy.  True if the patch is on."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    return True


class _FreezeAtTaskStart:
    """A ``sys.meta_path`` finder that finds nothing: it is there for
    ``importlib.invalidate_caches()``, which calls every meta path finder's
    ``invalidate_caches``."""

    @staticmethod
    def find_spec(name, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches() -> None:
        gc.freeze()


def freeze_at_task_start() -> None:
    """From the next task on, freeze this process's tracked objects into the
    permanent GC generation at each task start (any CPython version).  Last
    in ``sys.meta_path``, so an import reaches it only after every real
    finder missed."""
    if _FreezeAtTaskStart not in sys.meta_path:
        sys.meta_path.append(_FreezeAtTaskStart)
