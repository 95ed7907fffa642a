"""PySpark worker daemon of the engine (``spark.python.daemon.module``).

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()`` so that archives shipped
with ``addPyFile`` become importable. On CPython 3.11 that makes every
``zipimporter`` on the worker's path re-parse its archive's central
directory: a dozen importers over ``pyspark.zip`` (1,328 entries each),
the py4j zip and the spark-core jar, about 27k entries per task, which
is most of the Python CPU of a small pandas or Arrow UDF task.

This daemon is ``pyspark.daemon`` with one change: an importer re-reads
its archive only when the archive's ``(st_mtime_ns, st_size)`` moved
since that importer last read it. An archive added or replaced by
``addPyFile`` is still picked up; the unchanged Spark archives are not
parsed again.

Run by Spark as ``python -m opay_datalake_script_spark.pyworker``; the
session puts this package on the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    The stamp is taken before the read, so an archive rewritten during
    the read is read again at the next call. A missing archive (stamp
    None) always goes to the original, which drops its entries."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _reread(self)
    self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Stamp the importers the daemon already has, so forked workers
    # inherit the stamps and skip the re-read from their first task on.
    importlib.invalidate_caches()

    from pyspark import daemon

    daemon.manager()
