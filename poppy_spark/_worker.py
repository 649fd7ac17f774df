"""Per-process tuning for Spark Python worker processes.

Spark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py``, ``setup_spark_files``).  Before CPython
3.13 that makes every cached ``zipimporter`` re-parse its archive's whole
central directory: a worker holds one importer per package imported from
``pyspark.zip`` (14-16 of them, 1,328 entries each): ~118 ms of CPU per
task, measured standalone on a 4-core x86-64 VM.  CPython 3.13 made ``invalidate_caches`` lazy; this
module backports that for older interpreters, keyed on the archive's stat so
a rewritten zip is still re-read.
"""

from __future__ import annotations

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
