"""Python-worker daemon for the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``). Before Python
3.12 a ``zipimporter`` answers that by re-reading its archive's whole
central directory, and Spark puts two archives on every worker's path:
``pyspark.zip`` (a dozen importers, one per package prefix, by the time
a task runs) and the 15 MB ``spark-core`` jar. That is 160–280 ms of
every Python-UDF task, before it touches a row.

This module makes ``zipimporter.invalidate_caches`` re-read an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stamp taken at
the importer's last read, stamps the importers the daemon already holds,
and hands over to ``pyspark.daemon.manager()``. PySpark's daemon and
worker code run unchanged; every forked worker inherits the stamps.

Run by Spark as ``python -m gfw_data_api_spark.worker_daemon`` from the
JVM's working directory with the workers' ``PYTHONPATH``, so the package
must be importable there, as the engine's UDFs (pickled by reference)
already require.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _stat_checked_invalidate(self: zipimport.zipimporter) -> None:
    """Re-read the archive only when it changed on disk since this
    importer's last read; a vanished archive goes to the stdlib method,
    which empties the importer."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        self.__dict__.pop("_gfw_stamp", None)
        return _stock_invalidate(self)
    if self.__dict__.get("_gfw_stamp") != stamp:
        _stock_invalidate(self)
        self._gfw_stamp = stamp


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent) and stamp every
    zipimporter in ``sys.path_importer_cache``: each read its archive when
    it was made, so the first task in a forked worker re-reads nothing."""
    zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            try:
                finder._gfw_stamp = _stamp(finder.archive)
            except OSError:
                pass


if __name__ == "__main__":
    from pyspark import daemon  # imports pyspark.worker: its importers exist from here on

    # installed from the imported module, so a worker names the wrapper
    # by its package path, not ``__main__``
    from gfw_data_api_spark import worker_daemon

    worker_daemon.install()
    daemon.manager()
