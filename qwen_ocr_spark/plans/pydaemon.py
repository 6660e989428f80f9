"""Python worker daemon entry point: ``pyspark.daemon`` behind a
stamp-checked zipimport cache invalidation.

Spark launches this module instead of ``pyspark.daemon`` when
``spark.python.daemon.module`` names it (``plans.session.get_spark`` sets
that conf; see its docstring for when).  It patches one method and then
runs the unchanged ``pyspark.daemon``, whose forked workers inherit the
patch::

    python -m qwen_ocr_spark.plans.pydaemon pyspark.worker

Why: every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()`` so that archives shipped with
``addPyFile`` become importable.  Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's central
directory on the spot, and a worker caches one zipimporter per package
directory of ``pyspark.zip`` (16, each over all 1,328 entries).  So every
task parsed that directory 16 times: a fixed ~0.26 CPU-s per task whatever
its row count, 81% of a worker's per-task time (cProfile, Python 3.11.7,
4-core VM).  Python 3.13's zipimporter drops the cache and re-reads lazily
(it has ``_get_files``); there ``install`` does nothing.
"""

from __future__ import annotations

import os
import runpy
import zipimport

# the interpreter's own method, captured before install() replaces it
_EAGER = zipimport.zipimporter.invalidate_caches

# archive path -> (inode, size, mtime_ns) taken just before the directory
# was last read; stat-before-read, so a change racing the read re-reads
_READ_AT: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive
    directory only when the file changed since it was last read.

    All importers of one archive share the directory dict in
    ``zipimport._zip_directory_cache`` (the constructor takes it from
    there), so an unchanged archive is read once per process, not once per
    importer per task.  A changed, replaced or removed archive goes through
    the interpreter's own method, errors included."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _READ_AT.get(self.archive) == stamp):
        self._files = files
        return
    _READ_AT.pop(self.archive, None)
    _EAGER(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _READ_AT[self.archive] = stamp


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` when this interpreter's
    re-reads eagerly (no lazy ``_get_files``); True when installed."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
