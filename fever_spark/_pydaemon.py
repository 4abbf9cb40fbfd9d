"""Spark Python daemon that keeps the workers' zip import caches.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes each
cached ``zipimporter`` re-read its whole archive directory: ``pyspark.zip``
once per imported pyspark subpackage, plus the spark-core jar: 0.2-0.36 s per
task. This daemon wraps ``invalidate_caches`` so the zip importers are left
out, then runs pyspark's own daemon; forked workers inherit the wrapper.

Started by ``get_spark`` as ``spark.python.daemon.module`` on local masters.
Archives added later (``addPyFile``) sit at new paths and are read as usual;
only an archive overwritten in place at an already-imported path is missed.
"""

import importlib
import os
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches


def invalidate_caches():
    """``importlib.invalidate_caches`` minus the absolute-path zip
    importers, which are put back as they were."""
    cache = sys.path_importer_cache
    zips = {p: f for p, f in cache.items()
            if isinstance(f, zipimport.zipimporter) and os.path.isabs(p)}
    for p in zips:
        del cache[p]
    try:
        _invalidate_caches()
    finally:
        cache.update(zips)


invalidate_caches._fever_keeps_zip_caches = True

if __name__ == "__main__":
    from pyspark import daemon

    importlib.invalidate_caches = invalidate_caches
    daemon.manager()
