"""Metric definitions: the end-to-end metrics and the traced per-layer split.

Each per-layer metric is named ``<module>.<measure>`` after the engine
module (or Spark subsystem) whose work it counts, and records which
end-to-end metric it should move and on which workload most of that
layer's work happens (and where little does), so that a change to one
layer can predict, before it is measured, which numbers should move.
"""

from __future__ import annotations

from typing import NamedTuple

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}


class Layer(NamedTuple):
    unit: str
    layer: str
    moves: str
    most: str
    little: str


_ALL = "both equally"
_REL = "relational_mix"
_ING = "ingest_chain"
_DEDUP = "ingest_chain (dedup steps)"
_PY = "ingest_chain (wc, indexer, image decode)"
_MR = "ingest_chain (wc, indexer)"
_STREAM = "ingest_chain (events_stream_dedup)"

PER_LAYER = {
    "session.get_spark_s": Layer("s", "session", "setup_s", _ALL, "-"),
    "shipping.ship_s": Layer("s", "shipping", "setup_s", _ALL, "-"),
    "catalog.register_views_s": Layer("s", "catalog", "setup_s", _ALL, "-"),
    "operators.construct_s": Layer("s", "operators", "query_geomean_s", _REL, _MR),
    "spark.plan_s": Layer("s", "Catalyst", "query_geomean_s", _REL, _MR),
    "spark.aqe_replans": Layer("count", "Catalyst", "query_geomean_s", _REL, _MR),
    "spark.jobs": Layer("count", "scheduler", "query_geomean_s, pass_s", f"{_REL}, {_DEDUP}", _MR),
    "spark.stages": Layer("count", "scheduler", "query_geomean_s, pass_s", f"{_REL}, {_DEDUP}", _MR),
    "spark.tasks": Layer("count", "scheduler", "query_geomean_s, pass_s", f"{_REL}, {_DEDUP}", _MR),
    "spark.sched_overhead_s": Layer("s", "scheduler", "query_geomean_s, pass_s", f"{_REL}, {_DEDUP}", _MR),
    "catalog.scan_s": Layer("s", "catalog, sources", "pass_s", _REL, _MR),
    "catalog.input_mb": Layer("MB", "catalog, sources", "pass_s", _REL, _MR),
    "registry.memo_builds": Layer("count", "registry", "pass_s, cold_pass_s", _DEDUP, _REL),
    "registry.memo_build_s": Layer("s", "registry", "pass_s, cold_pass_s", _DEDUP, _REL),
    "registry.memo_reads": Layer("count", "registry", "pass_s, cold_pass_s", _DEDUP, _REL),
    "spark.task_run_s": Layer("s", "executors", "pass_s, peak_rss_mb", _ING, _REL),
    "spark.task_cpu_s": Layer("s", "executors", "pass_s, peak_rss_mb", _ING, _REL),
    "spark.gc_s": Layer("s", "executors", "pass_s, peak_rss_mb", _ING, _REL),
    "spark.shuffle_write_mb": Layer("MB", "shuffle", "pass_s, peak_rss_mb", _ING, _REL),
    "spark.shuffle_read_mb": Layer("MB", "shuffle", "pass_s, peak_rss_mb", _ING, _REL),
    "spark.fetch_wait_s": Layer("s", "shuffle", "pass_s, peak_rss_mb", _ING, _REL),
    "spark.spill_mb": Layer("MB", "shuffle", "pass_s, peak_rss_mb", _ING, _REL),
    "functions.python_run_s": Layer("s", "functions", "pass_s", _PY, _REL),
    "functions.python_start_s": Layer("s", "functions", "pass_s", _PY, _REL),
    "functions.python_io_mb": Layer("MB", "functions", "pass_s", _PY, _REL),
    "functions.worker_cpu_s": Layer("s", "functions", "pass_s, peak_rss_mb", _PY, _REL),
    "streaming.batches": Layer("count", "streaming", "pass_s, cold_pass_s", _STREAM, _REL),
    "streaming.batch_s": Layer("s", "streaming", "pass_s, cold_pass_s", _STREAM, _REL),
    "parity.map_s": Layer("s", "parity", "pass_s", _MR, _REL),
    "parity.reduce_write_s": Layer("s", "parity", "pass_s", _MR, _REL),
    "parity.shuffle_records": Layer("count", "parity", "pass_s", _MR, _REL),
    "proc.driver_cpu_s": Layer("s", "process", "diagnostic", _ALL, "-"),
    "proc.jvm_cpu_s": Layer("s", "process", "diagnostic", _ALL, "-"),
    "host.steal_frac": Layer("frac", "host", "diagnostic", _ALL, "-"),
    "trace.pass_s": Layer("s", "tracing", "pass_s (traced)", _ALL, "-"),
    "trace.untraced_pass_s": Layer("s", "tracing", "pass_s (untraced, same run)", _ALL, "-"),
    "trace.overhead_frac": Layer("frac", "tracing", "diagnostic", _ALL, "-"),
    "trace.unattributed_frac": Layer("frac", "tracing", "diagnostic", _ALL, "-"),
}

# A traced pass is additive when the query spans cover its wall time to
# within this share; the rest is the harness's own loop.
ADDITIVITY_TOLERANCE = 0.05
