"""Python worker daemon: ``pyspark.daemon`` without the per-task re-read
of every zip archive on the workers' import path.

Each Python task runs ``pyspark.worker_util.setup_spark_files``, which
ends in ``importlib.invalidate_caches()``. Up to Python 3.12 that makes
every cached ``zipimporter`` re-parse its archive's whole central
directory (``zipimport.zipimporter.invalidate_caches``). A warm worker
holds 16 such importers over pyspark.zip, the py4j zip and the Spark
core jar, about 0.24 CPU s per task before any user code runs.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read, so archives that
change (``addPyFile`` of a new version) are still picked up. The
session builder sets this module as ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    key = _stat_key(self.archive)
    if key is None or key != getattr(self, "_read_stat", None):
        _reread(self)
        self._read_stat = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
