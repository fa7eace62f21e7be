"""PySpark worker daemon whose Python tasks do not re-read pyspark.zip.

Every Python task (mapInPandas, mapInArrow, pandas_udf, RDD) runs
``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``.  On Python 3.11 that makes each
``zipimporter`` in ``sys.path_importer_cache`` (one per pyspark package
directory imported from ``pyspark.zip``, ~14 of them) re-read the zip's
1,328-entry central directory: 106-160 ms per task on a 4-vCPU VM.
This daemon runs the stock one with its ``worker_main`` wrapped so the
``zipimporter`` entries are dropped before each task; later imports
re-create them cheaply from zipimport's shared directory cache.  If
``pyspark.daemon`` has no ``worker_main``, the stock daemon runs
unchanged.  ``session.get_spark`` selects it for local masters.
"""

import sys
import zipimport


def drop_zip_finders() -> None:
    """Remove every ``zipimporter`` from the path-finder cache."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def wrap(worker_main):
    def main(*args, **kwargs):
        drop_zip_finders()
        return worker_main(*args, **kwargs)

    return main


if __name__ == "__main__":
    from pyspark import daemon

    if hasattr(daemon, "worker_main"):
        daemon.worker_main = wrap(daemon.worker_main)
    daemon.manager()
