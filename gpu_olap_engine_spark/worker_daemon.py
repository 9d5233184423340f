"""Spark's Python worker daemon, minus the per-task archive re-reads.

Every Python task ends its set-up (pyspark.worker_util.setup_spark_files)
with importlib.invalidate_caches(). On Python 3.11 that makes each
zipimporter on the workers' path re-read its whole archive: pyspark.zip
once per cached sub-package, the py4j zip and the spark-core jar, 0.12 to
0.24 s a task on a 4-core box. This daemon swaps in a version that skips
a zipimporter whose archive's (st_mtime_ns, st_size) is unchanged since it
was last read; every other finder is still invalidated, and a changed or
new archive is re-read. Forked workers inherit the swap. get_spark points
``spark.python.daemon.module`` here for local masters only.
"""

import importlib
import os
import sys
import zipimport

_invalidate_all = importlib.invalidate_caches
_read: dict = {}  # archive -> (st_mtime_ns, st_size) when last read


def _stat(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _zipimporters() -> list:
    return [
        f for f in list(sys.path_importer_cache.values())
        if isinstance(f, zipimport.zipimporter)
    ]


def invalidate_caches() -> None:
    """importlib.invalidate_caches(), skipping unchanged zip archives."""
    finders = _zipimporters()
    now = {f.archive: _stat(f.archive) for f in finders}
    kept = [f for f in finders if now[f.archive] is not None
            and _read.get(f.archive) == now[f.archive]]
    for f in kept:  # an instance attribute shadows the re-reading method
        f.invalidate_caches = lambda: None
    try:
        _invalidate_all()
    finally:
        for f in kept:
            del f.invalidate_caches
    _read.update(now)


def main() -> None:
    from pyspark.daemon import manager  # imports pyspark from its archive

    _read.update({f.archive: _stat(f.archive) for f in _zipimporters()})
    importlib.invalidate_caches = invalidate_caches
    manager()


if __name__ == "__main__":  # re-import so the wrapper names this module
    from gpu_olap_engine_spark import worker_daemon

    worker_daemon.main()
