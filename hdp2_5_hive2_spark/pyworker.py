"""PySpark worker-daemon entry point that skips re-reading unchanged zip
directories.

`session.get_session` sets ``spark.python.daemon.module`` to this module for
local masters, so the JVM starts ``python -m hdp2_5_hive2_spark.pyworker``
instead of ``pyspark.daemon``. The daemon behaves exactly like the stock one,
with one change installed before it forks any worker:

Every task a reused worker runs starts in ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes
every cached ``zipimport.zipimporter`` re-read its archive's central
directory. Workers import pyspark from ``pyspark.zip`` (1,328 entries) and
hold 16 such importers, so each task made 16 directory reads, ~0.2 s of CPU
on a 4-core x86 host where the rest of a small Arrow task took ~50 ms,
although nothing had changed.

``_invalidate_if_changed`` replaces ``zipimporter.invalidate_caches``: an
importer whose archive has the same ``(st_mtime_ns, st_size)`` as when that
importer last read it keeps its directory. A changed archive, one that
cannot be stat-ed, and an importer that has not read through this function
yet all get the stock re-read. Non-zip finders (``FileFinder`` and the rest)
are untouched.

Importing this module has no side effects: the patch is installed only when
it runs as ``__main__``, and it never starts a SparkContext.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive.

    Each importer carries the stamp of its archive at its last read. The
    stamp is taken BEFORE the read, so an archive rewritten while it is
    being read carries a newer stamp than the one recorded and is re-read on
    the next call."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _stock_invalidate(self)
    self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process and record
    the current stamp of every cached importer, so forked workers inherit
    read stamps and skip even their first task's re-read."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
