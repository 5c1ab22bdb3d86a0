"""Spark's Python daemon, with zip importers that re-read an archive
only when it has changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 each
cached ``zipimport.zipimporter`` then re-reads its whole archive
directory: a reused worker read ``pyspark.zip`` (1,328 entries) 12
times per task, and 16 archive directories in all. Here an importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs
from the one taken before the last read of that archive in this
process; otherwise it keeps that read's directory.

``session.get_spark`` starts the daemon as ``python -m
rsgislib_spark_daemon`` on a local master (``spark.python.daemon.module``)
with this file's directory first on ``spark.executorEnv.PYTHONPATH``.
The daemon stamps the importers it holds before it forks, so a
worker's first task re-reads nothing either. This directory holds
this one module, so no other top-level name lands on the workers'
``sys.path``; it imports only the standard library and ``pyspark``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken before its last read
_stamps: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(importer) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since its last read in this process."""
    stamp = _stamp(importer.archive)
    if stamp is None or _stamps.get(importer.archive) != stamp:
        _reread(importer)
        _stamps[importer.archive] = stamp
    elif importer.archive in zipimport._zip_directory_cache:
        # another importer of this archive made the last read
        importer._files = zipimport._zip_directory_cache[importer.archive]


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # one read of each archive the daemon's importers hold, stamped;
    # forked workers inherit both
    importlib.invalidate_caches()
    daemon.manager()
