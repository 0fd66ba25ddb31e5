"""The go_map_reduce_spark package on Python workers: ship it from the
driver, give every Python task one worker pool, and keep the Spark
install's archive directories in the worker.

Shipping. Functions defined inside this package (parity map/reduce fns,
pandas UDFs) are pickled **by reference** — the worker re-imports their
module. That works only if the package is importable on the worker,
which is true when the driver's cwd happens to be the repo root and
false otherwise (observed: ModuleNotFoundError from an executor when
the driver ran elsewhere). The fix is the standard Spark mechanism: zip
the package and ``addPyFile`` it once per SparkContext — exactly what
spark-submit --py-files would do on a real cluster.

One pool. The JVM keeps one ``pyspark.daemon`` and its forked workers
per distinct worker environment. RDD tasks (the parity map/reduce jobs)
carry ``sc.environment``; the SQL Python runners (pandas UDFs,
``mapInPandas``) add ``SPARK_SIMPLIFIED_TRACEBACK=1`` on top of it while
``spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled`` is true,
its default. That one variable gave a session a second daemon with its
own workers. ``ensure_package_shipped`` copies it into
``sc.environment`` before the session's first Python task, so both kinds
of task reuse the same workers. The only visible change: an error in an
RDD task gets the same simplified traceback a UDF error already gets.

Keeping. PySpark 4.1 calls ``importlib.invalidate_caches()`` at the
start of every Python task (``pyspark/worker_util.py:144``,
``setup_spark_files``). On CPython 3.11 that makes every
``zipimport.zipimporter`` in the worker re-read its archive's whole
central directory in pure Python (``zipimport.py:329-336``). The JVM
puts three archives on the worker's ``PYTHONPATH``: pyspark.zip, the
py4j source zip and the spark-core jar (5,359 entries, no ``.py``
file). There is one importer per archive and per imported subpackage,
so each task paid ~200 ms of worker CPU, even in a reused worker.
``keep_spark_archive_directories`` runs when this package is imported
inside a worker task (every engine map/reduce function and UDF arrives
that way) and makes ``invalidate_caches`` a no-op for the archives on
``PYTHONPATH``, which a Spark install never rewrites. Every other
archive, the shipped zip and any later pyFile included, keeps the stock
re-read, so a newly added pyFile is still seen. On the driver nothing
changes.

Inside a worker task the package itself imports no operator module (see
``__init__.py``): a task imports only the modules its unpickled
functions name.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_gmrs_pyfiles_shipped"
_SIMPLIFIED_TRACEBACK_CONF = "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled"
_SPARK_ARCHIVES = frozenset(os.environ.get("PYTHONPATH", "").split(os.pathsep)) - {""}


class _SparkArchiveImporter(zipimport.zipimporter):
    """A zipimporter that never re-reads a Spark-install archive."""

    def invalidate_caches(self):
        if self.archive not in _SPARK_ARCHIVES:
            super().invalidate_caches()


def in_python_task() -> bool:
    """Whether this process is running a Spark Python worker task."""
    return TaskContext.get() is not None


def keep_spark_archive_directories() -> None:
    """In a Python worker task, swap the zip path hook and the cached
    zip importers for ``_SparkArchiveImporter``; on the driver, no-op."""
    if not in_python_task():
        return
    sys.path_hooks[:] = [
        _SparkArchiveImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for importer in list(sys.path_importer_cache.values()):
        if type(importer) is zipimport.zipimporter:
            importer.__class__ = _SparkArchiveImporter


def ensure_package_shipped(spark: SparkSession) -> None:
    """Idempotently add a zip of this package to the SparkContext, and
    give RDD tasks the worker environment SQL Python tasks get."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    if spark.conf.get(_SIMPLIFIED_TRACEBACK_CONF, "true").lower() == "true":
        sc.environment["SPARK_SIMPLIFIED_TRACEBACK"] = "1"
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="gmrs_pyfiles_"), "go_map_reduce_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "go_map_reduce_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    sc.addPyFile(zpath)
    setattr(sc, _SHIPPED_ATTR, True)
