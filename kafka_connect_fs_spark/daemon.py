"""Spark's Python worker daemon without the per-task zip directory re-read.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts ``python -m kafka_connect_fs_spark.daemon`` in place of
``python -m pyspark.daemon``. It patches ``zipimport`` and then runs
``pyspark.daemon`` as ``__main__``; every worker the daemon forks inherits
the patch.

Why: before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Up to CPython 3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` parse its archive's whole
central directory again: with Spark's ``pyspark.zip`` on the workers'
path that is 16 importers over one archive, 26,672 entries, on every
task: about half the fixed cost of a small Python stage. The patched
``invalidate_caches`` re-reads an archive only when its ``(mtime_ns,
size)`` differs from the one seen when its directory was last read, so
a changed archive is still picked up. CPython 3.13 invalidates lazily
(the directory is re-read on next use, once); there ``install`` patches
nothing.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport
from collections.abc import Callable


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> Callable[[], None]:
    """Patch ``zipimport`` in this process to skip re-reading unchanged
    archives; returns the function that restores the originals. A no-op
    on interpreters that already invalidate lazily."""
    if sys.version_info >= (3, 13):
        return lambda: None
    read_at: dict[str, tuple[int, int] | None] = {}
    orig_read = zipimport._read_directory
    orig_invalidate = zipimport.zipimporter.invalidate_caches

    def read_directory(archive):
        sig = _signature(archive)  # before the read: a write racing it re-reads
        files = orig_read(archive)
        read_at[archive] = sig
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        sig = _signature(self.archive)
        if files is not None and sig is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        orig_invalidate(self)

    def restore() -> None:
        zipimport._read_directory = orig_read
        zipimport.zipimporter.invalidate_caches = orig_invalidate

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return restore


if __name__ == "__main__":
    install()
    # the interpreter read its path's archives before the patch: read them
    # once more under it, before any worker forks, so their signatures are
    # known and no task re-reads an unchanged archive
    importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
