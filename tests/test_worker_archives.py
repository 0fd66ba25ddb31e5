"""The Spark install's archives keep their zip directories in engine
workers (shipping.keep_spark_archive_directories).

PySpark calls importlib.invalidate_caches() at the start of every Python
task, which makes each stock zipimporter re-read its archive's central
directory. Once the engine package is imported in a worker, that re-read
must be skipped for the archives on the worker's PYTHONPATH (pyspark.zip,
py4j, the spark-core jar) and kept for every other archive, the shipped
go_map_reduce_spark.zip included. On the driver nothing changes.
"""

import os
import subprocess
import sys
import zipfile

from go_map_reduce_spark.parity import run_job, run_job_df
from go_map_reduce_spark.parity.apps import wc_map, wc_reduce
from go_map_reduce_spark.parity.mapreduce import sequential_oracle

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_keeps_spark_archive_directories(spark, tmp_path):
    paths = []
    for i in range(3):
        p = tmp_path / f"doc-{i}.txt"
        p.write_text(f"the quick brown fox {i} jumps over the lazy dog {i}\n")
        paths.append(str(p))
    got = {r["key"]: r["value"] for r in run_job_df(spark, wc_map, wc_reduce, paths, n_reduce=2).collect()}
    named = [(f"file:{p}", open(p).read()) for p in paths]
    assert got == sequential_oracle(wc_map, wc_reduce, named)

    # Nested, so cloudpickle ships it by value. Pipelined after wc_reduce,
    # it runs in the same Python task that unpickled an engine function,
    # which is how the package is imported in every engine worker.
    def probe(rows):
        import importlib.machinery
        import zipimport

        n_rows = sum(1 for _ in rows)
        # Give every sys.path entry an importer, the shipped zip included.
        importlib.machinery.PathFinder.find_spec("gmrs_absent_probe_module")
        spark_archives = [
            a for a in os.environ["PYTHONPATH"].split(os.pathsep)
            if a in zipimport._zip_directory_cache
        ]
        shipped = [p for p in sys.path if p.endswith("go_map_reduce_spark.zip")]
        watched = spark_archives + shipped
        before = {a: id(zipimport._zip_directory_cache[a]) for a in watched}
        importlib.invalidate_caches()
        after = {a: id(zipimport._zip_directory_cache[a]) for a in watched}
        yield {
            "rows": n_rows,
            "engine_imported": "go_map_reduce_spark" in sys.modules,
            "spark_archives": spark_archives,
            "shipped": shipped,
            "kept": [a for a in watched if before[a] == after[a]],
        }

    results = run_job(spark, wc_map, wc_reduce, paths, n_reduce=2).mapPartitions(probe).collect()
    assert len(results) == 2
    assert sum(r["rows"] for r in results) == len(got)
    for r in results:
        assert r["engine_imported"]
        assert any(a.endswith("pyspark.zip") for a in r["spark_archives"]), r
        assert len(r["shipped"]) == 1, r
        # Spark's own archives are not re-read; the shipped zip is.
        assert r["kept"] == r["spark_archives"], r


def test_driver_keeps_stock_zip_importers(tmp_path):
    archive = tmp_path / "driver_side_mod.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("driver_side_mod.py", "X = 1\n")
    script = """
import importlib, sys, zipimport
import driver_side_mod
classes = {k: type(v) for k, v in sys.path_importer_cache.items()}
import go_map_reduce_spark
assert zipimport.zipimporter in sys.path_hooks, sys.path_hooks
changed = [k for k, c in classes.items()
           if k in sys.path_importer_cache and type(sys.path_importer_cache[k]) is not c]
assert not changed, changed
old = id(zipimport._zip_directory_cache[sys.argv[1]])
importlib.invalidate_caches()
assert id(zipimport._zip_directory_cache[sys.argv[1]]) != old
"""
    # The archive sits on PYTHONPATH, as the Spark archives do in a worker.
    out = subprocess.run(
        [sys.executable, "-c", script, str(archive)],
        capture_output=True,
        text=True,
        env=dict(os.environ, PYTHONPATH=str(archive)),
        timeout=300,
        cwd=HERE,
    )
    assert out.returncode == 0, out.stderr[-2000:]
