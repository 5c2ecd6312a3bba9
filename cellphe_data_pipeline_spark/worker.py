"""The engine's PySpark daemon entry (``spark.python.daemon.module``).

Every Python task starts in ``pyspark.worker.main``, whose
``setup_spark_files`` ends with ``importlib.invalidate_caches()``. On
CPython 3.11 that call makes every ``zipimporter`` on
``sys.path_importer_cache`` re-read its archive's central directory
there and then: one importer per package imported from ``pyspark.zip``
and the py4j zip, 16 in a warmed worker, all re-reading archives that
do not change while the worker lives. A one-partition Python job on a warmed
session takes ≈0.08 s with this entry and ≈0.15–0.25 s without it
(Spark 4.1.2, CPython 3.11.7, 4-core VM).

On import, this module replaces ``zipimporter.invalidate_caches`` with a
stat-validated form: an archive's directory is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp of the last
read in this process; otherwise the importer takes the directory
already in ``zipimport._zip_directory_cache``. An archive that cannot be
stat-ed, or an interpreter without those private attributes, gets the
stock method. Run as ``python -m cellphe_data_pipeline_spark.worker``,
it imports ``pyspark.worker``, reads each archive's directory once
before any fork (so forked workers inherit the stamps), and hands over
to ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: directory reads made by ``zipimporter.invalidate_caches`` in this
#: process (reset in each forked child, so a worker counts its own)
directory_reads = 0

_stamps: dict[str, tuple[int, int, int]] = {}


def _reset_reads() -> None:
    global directory_reads
    directory_reads = 0


def _stock_invalidate(importer) -> None:
    global directory_reads
    directory_reads += 1
    _STOCK(importer)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive's stat stamp is the one its cached directory was read
    at."""
    try:
        archive = self.archive
        st = os.stat(archive)
        files = zipimport._zip_directory_cache.get(archive)
    except (AttributeError, OSError):
        _stock_invalidate(self)
        return
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    if files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    # stat taken before the read: a rewrite during it changes the stamp,
    # so the next call reads again; a failed read leaves no cached
    # directory, which also forces the next read
    _stamps[archive] = stamp


def serve() -> None:
    """Prime the stamps, then run the stock PySpark daemon loop."""
    import pyspark.worker  # noqa: F401  (the imports every task needs)
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # one copy of the module state: the named module installs the patch
    # and owns the counter that tasks read
    from cellphe_data_pipeline_spark import worker

    worker.serve()
else:
    _STOCK = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    os.register_at_fork(after_in_child=_reset_reads)
