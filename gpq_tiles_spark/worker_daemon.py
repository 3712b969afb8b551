"""PySpark worker daemon that removes the fixed Python cost of every task.

Drop-in for the stock daemon (``spark.python.daemon.module``; ``get_spark``
installs it, ``SPARK_GRAFT_NO_DAEMON_PRELOAD=1`` keeps the stock one). The
stock daemon forks each Python worker from a bare interpreter, and a reused
worker then pays a fixed cost on every task before our function runs. This
module runs the stock ``manager()`` after removing three such costs:

1. **Import per worker.** Every fresh worker imports numpy, pandas, pyarrow
   and this package's kernels (~0.5 s) on its first task. The daemon
   imports them once and every forked worker inherits the warm modules
   through copy-on-write. Safe because the forked worker is a copy of the
   daemon, exactly as with the stock daemon; only more of it is warm.
   A failed import is reported on stderr (it lands in the executor log)
   and otherwise ignored: the worker falls back to the normal lazy import,
   and the daemon never dies of it.
2. **Zip re-read per task** (CPython < 3.12 only). PySpark's worker calls
   ``importlib.invalidate_caches()`` once per task, and on 3.11 every live
   ``zipimporter`` (14 after the preload, most of them into ``pyspark.zip``)
   then re-reads its whole archive directory in pure Python: 75-120 ms of
   CPU per task on a 4-core x86 host. Here an importer re-reads only when
   its archive's stat stamp ``(st_ino, st_size, st_mtime_ns)`` differs
   from the stamp taken just before the directory now in zipimport's cache
   was read, so a replaced ``--py-files`` zip is still picked up on the
   next invalidation. Path-directory finders are invalidated exactly as
   before. CPython 3.12 made this re-read lazy upstream (gh-103200), so
   there nothing is patched.
3. **GC over the inherited heap per task.** A reused worker runs a full
   ``gc.collect()`` after each task, which walks the ~73k objects inherited
   from the daemon (20-45 ms on the same host) and dirties their
   copy-on-write pages. The daemon collects once and then ``gc.freeze()``s
   its heap, so workers only ever collect what their own tasks allocated.
   Safe because frozen objects are the daemon's own long-lived modules;
   nothing a task allocates is frozen.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.serializers",
    "pyspark.sql.pandas.serializers",
    "gpq_tiles_spark.kernels.tile_math",
    "gpq_tiles_spark.kernels.geom",
    "gpq_tiles_spark.kernels.clip",
    "gpq_tiles_spark.kernels.simplify",
    "gpq_tiles_spark.kernels.drop",
    "gpq_tiles_spark.kernels.hashes",
    "gpq_tiles_spark.kernels.hilbert",
    "gpq_tiles_spark.kernels.mvt",
    "gpq_tiles_spark.kernels.mvt_fast",
    "gpq_tiles_spark.kernels.pmtiles",
    "gpq_tiles_spark.pipeline",
    "gpq_tiles_spark.operators.cells",
)

# archive path -> (stat stamp taken before the read, directory read)
_ZIP_READS: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _zip_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _install_lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives."""
    stock_read = zipimport._read_directory
    stock_invalidate = zipimport.zipimporter.invalidate_caches

    def _stamped_read_directory(archive):
        stamp = _zip_stamp(archive)
        files = stock_read(archive)
        if stamp is not None:
            _ZIP_READS[archive] = (stamp, files)
        return files

    def _lazy_invalidate_caches(self):
        read = _ZIP_READS.get(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if (read is not None and cached is read[1]
                and _zip_stamp(self.archive) == read[0]):
            self._files = cached
            return
        stock_invalidate(self)

    zipimport._read_directory = _stamped_read_directory
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches


def _preload(names) -> list[str]:
    """Import ``names``; return the ones that failed, each also reported on
    stderr. Never raises: a broken module must not take the daemon (and so
    every Python stage) down with it."""
    failed = []
    for name in names:
        try:
            importlib.import_module(name)
        except Exception as exc:
            failed.append(name)
            print(f"gpq_tiles_spark.worker_daemon: preload of {name} failed: "
                  f"{type(exc).__name__}: {exc}", file=sys.stderr, flush=True)
    return failed


if sys.version_info < (3, 12):
    _install_lazy_zip_invalidation()
_preload(PRELOAD)
# stamp the importers created before the patch (one read per archive), so
# forked workers inherit stamps for every importer alive in the daemon
importlib.invalidate_caches()

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    gc.collect()
    gc.freeze()
    manager()
