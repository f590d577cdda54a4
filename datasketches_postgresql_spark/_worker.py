"""Set-up applied inside Spark Python workers at package import.

Two process-wide tweaks, each taking effect only inside a PySpark worker
(host applications that merely import the library are left untouched):

- ``retain_heap``: glibc heap tuning. In this environment, freshly mmap'd
  pages fault ~8x slower than reused heap pages, and concurrent Python
  workers contend on the kernel page-fault path. numpy temporaries above
  glibc's default M_MMAP_THRESHOLD (128 KB) are mmap'd on allocation and
  munmap'd on free, so every Arrow batch re-faults hundreds of MB. Raising
  the threshold and disabling trim keeps the arena warm between batches:
  measured 3.4x on a single process for the shingle rolling-hash loop,
  larger under 32-way worker concurrency. Memory cost is bounded by each
  worker's peak temporary set (tens of MB at the default Arrow batch size).
  No-op outside glibc.
- ``lazy_zip_invalidation``: every task a reused worker runs starts with
  ``importlib.invalidate_caches()`` (``pyspark.worker_util.
  setup_spark_files``, so that ``--py-files`` added since the last task are
  seen). Workers import pyspark from ``pyspark.zip``, and
  ``sys.path_importer_cache`` holds one ``zipimporter`` per pyspark
  sub-package directory of that archive (16 in a sketch aggregate's worker).
  On CPython 3.10-3.12 ``zipimporter.invalidate_caches`` eagerly re-parses
  the archive's whole central directory in pure Python, so every task parsed
  the 1,328-member directory 16 times: ~0.13 s of CPU per task on 4 vCPU,
  most of a warm worker's per-task time. CPython 3.13 made invalidation
  lazy; this backports that behaviour.
"""

from __future__ import annotations

import ctypes

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3


def in_spark_worker() -> bool:
    """True iff this process is a PySpark executor worker (the worker/daemon
    module is what drives the process; it is loaded before user code
    unpickles). The driver or any host application importing this library
    never has those modules loaded."""
    import sys

    return "pyspark.worker" in sys.modules or "pyspark.daemon" in sys.modules


def retain_heap(force: bool = False) -> bool:
    """Apply the allocator tuning. Called at package import but ONLY takes
    effect inside Spark Python workers (or with ``force=True`` /
    SPARK_GRAFT_RETAIN_HEAP=1) — mutating process-global glibc state in an
    arbitrary host application that merely imports the library is not this
    library's call to make."""
    import os

    if os.environ.get("SPARK_GRAFT_NO_RETAIN_HEAP"):
        return False
    if not force and not os.environ.get("SPARK_GRAFT_RETAIN_HEAP") and not in_spark_worker():
        return False
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(ctypes.c_int(_M_MMAP_THRESHOLD), ctypes.c_int(1 << 30))
        libc.mallopt(ctypes.c_int(_M_TRIM_THRESHOLD), ctypes.c_int(1 << 30))
        return True
    except Exception:
        return False


def lazy_zip_invalidation(force: bool = False) -> bool:
    """Backport CPython 3.13's lazy ``zipimporter`` cache invalidation.

    ``zipimporter._files`` becomes a read-through view of
    ``zipimport._zip_directory_cache`` (the archive's directory is read on
    the first lookup after a miss) and ``invalidate_caches`` only drops the
    archive's cache entry. All importers into one archive share that entry,
    so an invalidation costs nothing and the next lookup re-reads the
    directory once, seeing any member added on disk since (what
    ``setup_spark_files`` relies on for ``--py-files``). As on 3.13, code
    that reads ``_zip_directory_cache`` directly (``pkgutil.iter_modules``
    over a zip) sees no entry until an import lookup repopulates it.

    Applies on CPython 3.10-3.12 inside Spark Python workers only (or with
    ``force=True``); returns whether the backport is installed."""
    import sys

    if not (3, 10) <= sys.version_info < (3, 13):
        return False
    if not force and not in_spark_worker():
        return False
    import zipimport

    cls = zipimport.zipimporter
    if isinstance(cls.__dict__.get("_files"), property):
        return True

    def _get_files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except KeyError:
            try:
                files = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                return {}
            zipimport._zip_directory_cache[self.archive] = files
            return files

    def _set_files(self, files):
        # ``__init__`` assigns the directory it has just stored in
        # ``_zip_directory_cache``; the cache is the one source of truth
        pass

    def invalidate_caches(self):
        """Invalidates the cache of file data of the archive path."""
        zipimport._zip_directory_cache.pop(self.archive, None)

    cls._files = property(_get_files, _set_files)
    cls.invalidate_caches = invalidate_caches
    return True


def setup_worker() -> None:
    """Apply every worker set-up; each is a no-op outside a Spark worker."""
    retain_heap()
    lazy_zip_invalidation()
