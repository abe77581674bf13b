"""Process-level tuning for Spark Python workers: the allocator and the
zipimport cache.

Allocator.  glibc malloc serves allocations above MMAP_THRESHOLD (128 KiB
default) with fresh mmap regions and returns them to the kernel on free.
Every multi-MB numpy temporary then pays page-fault + zeroing cost: on this
class of host a single masked-copy pass over 75 MB measured ~640 ms cold vs
~44 ms with heap reuse -- a 14x penalty on every vectorized pass.  Raising
M_MMAP_THRESHOLD keeps large blocks on the heap so freed temporaries are
reused.

zipimport.  Spark's worker calls ``importlib.invalidate_caches()`` at the
start of every task (``setup_spark_files`` in ``pyspark/worker_util.py``).
Before Python 3.13, ``zipimporter.invalidate_caches`` eagerly re-reads the
whole central directory of its archive, once per zipimporter in
``sys.path_importer_cache`` -- for pyspark.zip (1,328 entries, 3.5 MB, 16
importers per worker) about 0.25 s per task on 4 vCPUs, even in a reused
worker.  ``tune_zipimport`` wraps it so an archive is re-read only when its
stat stamp (mtime_ns, size, inode) differs from the last read, or when
``stat`` fails.  Python 3.13's own method only drops the cache, so it is
left alone there.

Both are safe to call multiple times.  Applied at import, so every UDF that
unpickles parquet4seastar_spark tunes its worker from its first task on
(each Python worker is a fresh process).
"""

from __future__ import annotations

import ctypes
import os
import sys
import zipimport

_M_TRIM_THRESHOLD = -1
_M_TOP_PAD = -2
_M_MMAP_THRESHOLD = -3

_applied = False


def tune_allocator() -> bool:
    global _applied
    if _applied:
        return True
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 30)  # big blocks on the heap
        libc.mallopt(_M_TRIM_THRESHOLD, 1 << 30)  # don't give them back on free
        libc.mallopt(_M_TOP_PAD, 1 << 26)
        _applied = True
    except OSError:
        return False
    return True


_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its last read
_zip_stamps: dict[str, tuple[int, int, int]] = {}


def _stat_keyed_invalidate(self: zipimport.zipimporter) -> None:
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stdlib_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    # the stdlib drops the cache entry when a read fails, so a failed read
    # is never taken as current
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _zip_stamps.get(archive) == stamp:
        # unchanged since the last read: adopt that read (another importer
        # of the same archive may have made it) instead of re-reading
        self._files = files
        return
    _stdlib_invalidate(self)
    # taken before the read, so a write racing it shows as a changed stamp
    _zip_stamps[archive] = stamp


_stat_keyed_invalidate._p4s_stat_keyed = True  # type: ignore[attr-defined]


def tune_zipimport() -> bool:
    if sys.version_info >= (3, 13):
        return False
    if not getattr(zipimport.zipimporter.invalidate_caches, "_p4s_stat_keyed", False):
        zipimport.zipimporter.invalidate_caches = _stat_keyed_invalidate
    return True


tune_allocator()
tune_zipimport()
