"""PySpark worker entry point that keeps a reused Python worker's per-task
set-up cheap.

For every task, also on a reused worker, PySpark's
``worker_util.setup_spark_files`` ends in ``importlib.invalidate_caches()``.
On Python 3.11 that makes every cached ``zipimporter`` re-read its whole
archive directory: ``pyspark.zip``, the py4j zip and the Spark core jar that
Spark puts on the worker's ``sys.path``. On a 4-vCPU host that costs about
0.25 CPU s per task, while a small vectorized UDF's own work is about 1 ms.

This module's ``setup_spark_files`` runs PySpark's own and still does all
that ``importlib.invalidate_caches()`` does, except re-reading the archives
already on ``sys.path``: Spark never replaces a file it has shipped under the
same name. Directory finders are still invalidated on every task, so a
``.py`` that ``addPyFile`` ships after the worker started is found. When the
task added a path to ``sys.path`` (the worker's first task, or a new
``addPyFile`` archive), caches are invalidated in full.

``session.get_spark`` selects this module with ``spark.python.worker.module``.
Its name starts with ``pyspark`` because ``pyspark.daemon`` ignores a worker
module whose name does not.
"""

import importlib
import runpy
import sys
import zipimport

import pyspark.worker_util

_pyspark_setup_spark_files = pyspark.worker_util.setup_spark_files
_reread_archive = zipimport.zipimporter.invalidate_caches


def _keep_archive(importer):
    pass


def setup_spark_files(infile) -> None:
    """PySpark's ``setup_spark_files`` without re-reading the zip archives
    that were already on ``sys.path``."""
    known = set(sys.path)
    zipimport.zipimporter.invalidate_caches = _keep_archive
    try:
        _pyspark_setup_spark_files(infile)
    finally:
        zipimport.zipimporter.invalidate_caches = _reread_archive
    if not known.issuperset(sys.path):
        importlib.invalidate_caches()


pyspark.worker_util.setup_spark_files = setup_spark_files

if __name__ == "__main__":
    # Without the daemon (spark.python.use.daemon=false) Spark runs the worker
    # module as a script; pyspark.worker then imports the name patched above.
    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    import pyspark.worker

    pyspark.worker.setup_spark_files = setup_spark_files
    main = pyspark.worker.main
