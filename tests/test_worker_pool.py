"""Every Python task of a session runs in one pool of lean workers.

One pool: RDD tasks (the parity map/reduce jobs) and SQL Python tasks
(mapInPandas, pandas UDFs) reach the JVM with the same worker
environment, so they share one pyspark.daemon and its workers
(shipping.ensure_package_shipped). Lean: inside a worker task,
``import go_map_reduce_spark`` stops after shipping and registry, and a
task imports only the modules its unpickled functions name. On the
driver the registry is filled exactly as before.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The query set and oracle set the driver-side import registers.
QUERY_SET_SHA256 = "dcec9c667b2462fba983d84bd0478283ee29f306ed952d551a2bfbd9efe7ebc7"
ORACLE_SET_SHA256 = "7cbb94365ed961ad2a488b23ad17cd255758f0e1b895a046e111d95965c3afea"

SESSION_SCRIPT = r"""
import json, os, sys
from go_map_reduce_spark.session import get_spark
from go_map_reduce_spark.parity import run_job
from go_map_reduce_spark.parity.apps import wc_map, wc_reduce
from go_map_reduce_spark.registry import QUERIES

spark = get_spark(app_name="gmrs-worker-pool", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
paths = []
for i in range(3):
    p = os.path.join(sys.argv[1], f"doc-{i}.txt")
    with open(p, "w") as f:
        f.write(f"the quick brown fox {i} jumps over the lazy dog {i}\n")
    paths.append(p)

# Pipelined after wc_reduce, so it reports what the task that unpickled
# the engine's map/reduce functions imported.
def probe(rows):
    n = sum(1 for _ in rows)
    yield n, sorted(sys.modules)

worker = run_job(spark, wc_map, wc_reduce, paths, n_reduce=2).mapPartitions(probe).collect()
images = QUERIES["multimodal_image_decode"](spark, os.path.join(sys.argv[2], "perfbench/data/sf0.01")).collect()

def ppid(pid):
    with open(f"/proc/{pid}/stat") as f:
        return int(f.read().rsplit(")", 1)[1].split()[1])

def cmdline(pid):
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read().replace(b"\0", b" ").decode()

jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
daemons = []
for entry in os.listdir("/proc"):
    if not entry.isdigit():
        continue
    try:
        if ppid(int(entry)) == jvm and "pyspark.daemon" in cmdline(int(entry)):
            daemons.append(int(entry))
    except OSError:
        pass
print(json.dumps({"worker": worker, "image_rows": len(images), "daemons": len(daemons)}))
spark.stop()
"""


@pytest.fixture(scope="module")
def session_report(tmp_path_factory):
    """A parity wc job, then multimodal_image_decode, in a fresh local[2]
    session of its own, so no earlier task has touched its workers."""
    out = subprocess.run(
        [sys.executable, "-c", SESSION_SCRIPT, str(tmp_path_factory.mktemp("pool")), HERE],
        capture_output=True,
        text=True,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g"),
        timeout=600,
        cwd=HERE,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_rdd_and_sql_python_tasks_share_one_daemon(session_report):
    assert session_report["image_rows"] > 0
    assert session_report["daemons"] == 1, session_report["daemons"]


def test_worker_imports_only_what_its_task_names(session_report):
    assert len(session_report["worker"]) == 2
    assert sum(n for n, _ in session_report["worker"]) > 0
    for _, modules in session_report["worker"]:
        assert "go_map_reduce_spark.parity.apps" in modules
        heavy = [
            m for m in modules
            if m.startswith(("go_map_reduce_spark.operators.",
                             "go_map_reduce_spark.streaming.",
                             "go_map_reduce_spark.sources."))
            or m == "pyarrow" or m.startswith("pyarrow.")
        ]
        assert not heavy, heavy


def test_driver_import_registers_the_same_queries_and_oracles():
    script = """
import json, bench
from go_map_reduce_spark.registry import ORACLES, QUERIES
print(json.dumps([bench.query_set_sha256(QUERIES), bench.query_set_sha256(ORACLES)]))
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300, cwd=HERE
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == [QUERY_SET_SHA256, ORACLE_SET_SHA256]


def test_every_engine_module_imports_alone_in_a_task():
    """A lean worker imports a module without the registry the driver
    fills first, so a module that reads another module's oracle at
    import time must import that module itself."""
    script = """
import importlib, pkgutil, sys
from pyspark import TaskContext
TaskContext._setTaskContext(object.__new__(TaskContext))
import go_map_reduce_spark
names = [m.name for m in pkgutil.walk_packages(go_map_reduce_spark.__path__, "go_map_reduce_spark.")]
assert not go_map_reduce_spark.registry.QUERIES
failed = []
for name in names:
    for loaded in [m for m in sys.modules if m.startswith("go_map_reduce_spark")]:
        del sys.modules[loaded]
    try:
        importlib.import_module(name)
    except Exception as e:
        failed.append(f"{name}: {e!r}")
assert len(names) > 90, names
assert not failed, failed
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300, cwd=HERE
    )
    assert out.returncode == 0, out.stderr[-3000:]
