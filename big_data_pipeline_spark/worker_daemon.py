"""PySpark worker daemon that stops Python tasks re-reading zip archives.

``session._DEFAULTS`` names this module as ``spark.python.daemon.module``,
so Spark starts its Python worker daemon as
``python -m big_data_pipeline_spark.worker_daemon``. The daemon module
is the hook Spark offers here: ``pyspark/daemon.py`` only honours a
``spark.python.worker.module`` whose name starts with ``pyspark``. The
workers already had to import this package, to unpickle engine UDFs such
as ``ml.linreg.train_predict_group`` by reference, so naming it adds no
path requirement.

Why it exists: at the start of every Python task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 and 3.12,
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory in pure Python. A warm worker holds about 16 zipimporters
(``pyspark.zip``, the py4j source zip, and the ``spark-core`` jar that
Spark puts on the worker path), about 26,700 directory entries, so each
task spent ~0.2 s before its first row while the JVM task thread waited
on the socket. CPython 3.13 only drops the cache entry there, and reads
the directory again lazily.

On import, this module replaces ``zipimporter.invalidate_caches`` with a
stat-gated version: it re-reads an archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp taken on that importer
instance at its last read, and falls back to the original when the
archive cannot be stat'ed. A changed archive is still re-read, so the
rule holds on every Python version; the daemon's forked workers inherit
it.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._stamp = None
        _original_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_stamp", None) != stamp:
        # Stamp before reading: an archive rewritten during the read
        # differs from the stamp and is read again next time.
        self._stamp = stamp
        _original_invalidate_caches(self)


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; importing it under its
    # own name installs the patch once, from a module workers can name.
    import big_data_pipeline_spark.worker_daemon  # noqa: F401
    from pyspark.daemon import manager

    manager()
else:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
