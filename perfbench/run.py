#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. One Python process (the Spark driver)
runs the workload's steps one at a time (closed loop, one client) on
Spark ``local[nproc]``:

1. set-up: ``session.get_spark`` (which launches the JVM),
   ``shipping.ensure_package_shipped`` and ``catalog.register_views``,
   once, as every batch job starts (``setup_s``);
2. a cold pass: every step once in the fresh JVM (``cold_pass_s``);
3. warm passes until ``--seconds`` have passed since the cold pass
   began. Before each pass every memo is evicted back to the
   post-set-up snapshot, so each pass pays its own builds;
4. an untimed check of every step's output of every pass against an
   oracle (DuckDB SQL, or the sequential MapReduce runner).

The run fails (exit 1, ``"correct": false``) when any output is wrong,
any step raises, or a warm pass builds a different set of memos than
the cold pass did.

With ``--trace 1`` the JVM is launched with Spark's event log on, and
the warm passes alternate between traced (event log attached, memo
builds timed) and untraced (event log detached) in the order of
TRACE_ORDER. The run reports the per-layer split of the traced warm
passes (``perfbench/layers.py``) and the tracing overhead: traced vs
untraced ``pass_s`` in the same session. The report is printed to
stderr; ``perfbench/report.py`` prints it again from the saved result.

The last line on stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Diagnostics (code digest, versions, core
count, heap, host steal) go to stderr and to the saved result under
``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import hashlib
import importlib.util
import json
import math
import os
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_LAUNCH = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF_DIR = os.path.join(HERE, "data", "sf0.01")

MIN_WARM = 3
# No pass starts later than this after launch, so a run that crawls
# still ends, and fails, in bounded time.
DEADLINE_S = 110
DRIVER_MEM = "2g"
# Traced (True) and untraced warm passes of a traced run, cycled.
TRACE_ORDER = (False, True, True, False)
MIN_WARM_TRACED = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(ncpu: int, event_log: bool) -> None:
    """Everything the run writes stays under WORK; Spark is pinned to
    this host's cores and a heap that fits it, with the console
    progress bar off and, for a traced run, the event log on (one
    uncompressed, unrolled JSON-lines file). Set before pyspark starts
    its JVM."""
    for d in ("tmp", "local", "warehouse", "eventlog", "out"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()
    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Context:
    """What a step needs: the session, the data, and the oracles."""

    def __init__(self, corpus: list[str]) -> None:
        from go_map_reduce_spark.registry import ORACLES, QUERIES

        self.spark = None
        self.sf_dir = SF_DIR
        self.work = WORK
        self.corpus = corpus
        self.queries = QUERIES
        self.oracles = ORACLES
        self._duck = None

    def oracle_digest(self, sql: str) -> tuple:
        """The DuckDB digest of ``sql`` over the fixture tables."""
        from perfbench import verify

        if self._duck is None:
            from go_map_reduce_spark.catalog import TABLES

            self._duck = verify.duckdb_views(SF_DIR, TABLES)
        return verify.oracle_digest(self._duck, sql)


def setup(ctx: Context, tracer) -> None:
    from go_map_reduce_spark.catalog import register_views
    from go_map_reduce_spark.session import get_spark
    from go_map_reduce_spark.shipping import ensure_package_shipped

    with tracer.span("setup", group="setup"):
        with tracer.span("session.get_spark"):
            ctx.spark = get_spark(app_name="perfbench")
        with tracer.span("shipping.ship"):
            ensure_package_shipped(ctx.spark)
        with tracer.span("catalog.register_views"):
            register_views(ctx.spark, SF_DIR)


def memo_keys(spark) -> set:
    """Session memo state as keys that name the same memo in every pass
    and session: no application id, and random hex suffixes (streaming
    sink views) masked."""
    from go_map_reduce_spark.registry import memo_snapshot

    frames, dirs, tables = memo_snapshot(spark)
    return (
        {("frame", k[1], k[2]) for k in frames}
        | {("state_dir", str(k)) for k in dirs}
        | {("table", name, temp) for name, temp in tables}
    )


def built(before: set, after: set) -> tuple:
    """The memos built between two ``memo_keys`` snapshots, as a sorted
    multiset with random hex runs masked."""
    return tuple(sorted(re.sub(r"[0-9a-f]{8,}", "#", repr(k)) for k in after - before))


def evict(ctx: Context, snap) -> None:
    """Back to the post-set-up state: every memo, cache and view a pass
    built is dropped, then both heaps are collected (untimed)."""
    from go_map_reduce_spark.registry import memo_restore, release_caches

    ctx.spark.sparkContext.setJobGroup("harness", "evict")
    release_caches()
    ctx.spark.catalog.clearCache()
    memo_restore(ctx.spark, snap)
    ctx.spark.sparkContext._jvm.System.gc()
    gc.collect()


def run_pass(ctx, steps, tag: str, tracer, expected: dict, tally: dict, before: set) -> dict:
    """One pass over the steps from the memo state ``before``; returns
    its span, step spans and the memos it built."""
    sc = ctx.spark.sparkContext
    outs = []
    with tracer.span("pass", group=tag) as ps:
        for step in steps:
            group = f"{tag}:{step.name}"
            sc.setJobGroup(group, step.name)
            with tracer.span("step", group=group) as s:
                s["step"], s["kind"] = step.name, step.kind
                try:
                    outs.append((step, step.run(ctx, tracer)))
                except Exception:  # a failed step is counted, the pass goes on
                    traceback.print_exc()
                    outs.append((step, None))
    sc.setJobGroup("harness", "check")
    for step, out in outs:
        tally["attempted"] += 1
        err = "raised" if out is None else step.check(out, expected[step.name])
        if err:
            tally["failed"] += 1
            print(f"# FAIL {tag} {step.name}: {err}", file=sys.stderr)
    steps_spans = [s for s in tracer.spans if s["name"] == "step" and s["parent"] == ps["id"]]
    builds = built(before, memo_keys(ctx.spark))
    return {"span": ps, "steps": steps_spans, "builds": builds}


def measure(ctx, steps, seconds, tracer, expected, tally, tracing=None) -> list[dict]:
    """A cold pass, then warm passes until ``seconds`` have passed.

    With ``tracing`` the warm passes switch the event log and memo spans
    on and off in TRACE_ORDER, so traced and untraced passes share one
    session and the JIT's continuing warm-up favours neither side.
    """
    from go_map_reduce_spark.registry import memo_snapshot

    from perfbench import trace

    snap = memo_snapshot(ctx.spark)
    before = memo_keys(ctx.spark)
    min_warm = MIN_WARM if tracing is None else MIN_WARM_TRACED
    passes = []
    t0 = time.perf_counter()
    while (len(passes) <= min_warm or time.perf_counter() - t0 < seconds) and (
        time.perf_counter() - T_LAUNCH < DEADLINE_S
    ):
        if passes:
            evict(ctx, snap)
        traced = tracing is not None and (
            not passes or TRACE_ORDER[(len(passes) - 1) % len(TRACE_ORDER)]
        )
        if tracing is not None:
            tracing.switch(traced)
        cpu0 = tracing.cpu() if traced else None
        with trace.traced_shared_frame(tracer) if traced else contextlib.nullcontext():
            p = run_pass(ctx, steps, f"p{len(passes)}", tracer, expected, tally, before)
        p["traced"] = traced
        if traced:
            p["cpu"] = (cpu0, tracing.cpu())
        passes.append(p)
    if len(passes) <= min_warm:
        raise RuntimeError(f"only {len(passes)} passes before the {DEADLINE_S} s deadline")
    return passes


def builds_consistent(passes: list[dict]) -> bool:
    cold = passes[0]["builds"]
    bad = [i for i, p in enumerate(passes) if p["builds"] != cold]
    for i in bad:
        print(
            f"# FAIL pass {i} built {list(passes[i]['builds'])}, cold pass built {list(cold)}",
            file=sys.stderr,
        )
    return not bad


def end_to_end(setup_span, passes, rss, tally: dict) -> dict:
    from perfbench import trace

    warm = [p for p in passes[1:] if not p["traced"]]
    per_step: dict[str, list[float]] = {}
    for p in warm:
        for s in p["steps"]:
            per_step.setdefault(s["step"], []).append(trace.dur(s))
    medians = [statistics.median(v) for v in per_step.values()]
    return {
        "setup_s": trace.dur(setup_span),
        "cold_pass_s": trace.dur(passes[0]["span"]),
        "pass_s": statistics.median(trace.dur(p["span"]) for p in warm),
        "query_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
        # the heap keeps growing over a run, so a run's overall peak
        # depends on how many passes fit in it; a pass's peak does not
        "peak_rss_mb": statistics.median(
            rss.peak_between(p["span"]["start"], p["span"]["end"]) for p in warm
        ),
        "ok_frac": (tally["attempted"] - tally["failed"]) / tally["attempted"],
    }


def spark_info(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "spark_parallelism": sc.defaultParallelism,
        "driver_heap": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
    }


def stamp(args, steps, spark: dict, host: dict, n_warm: int) -> dict:
    """Diagnostics recorded with every result; never gated on."""

    def git_head():
        if not os.path.isdir(os.path.join(ROOT, ".git")):
            return None  # an exported tree: the source digest identifies it
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            )
        except OSError:
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    src = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "go_map_reduce_spark", "**", "*.py"), recursive=True)):
        src.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            src.update(fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_head": git_head(),
        "engine_source_sha256": src.hexdigest(),
        "query_set_sha256": hashlib.sha256(
            "\n".join(sorted(s.name for s in steps)).encode()
        ).hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        **spark,
        **host,
        "warm_passes": n_warm,
    }


def shutdown(ctx: Context | None) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx is not None and ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import layers, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(SF_DIR):
        print(f"missing fixture tables: {SF_DIR}", file=sys.stderr)
        return 2
    if importlib.util.find_spec("go_map_reduce_spark") is None:
        print(f"engine package go_map_reduce_spark not found under {ROOT}", file=sys.stderr)
        return 2
    pin_environment(len(os.sched_getaffinity(0)), event_log=bool(args.trace))
    import go_map_reduce_spark  # noqa: F401  (registers the queries)

    steps = workloads.WORKLOADS[args.workload]
    corpus = workloads.make_corpus(os.path.join(WORK, "corpus"), args.seed)
    tracer = trace.Tracer()
    ctx = None
    try:
        ctx = Context(corpus)
        expected = {s.name: s.expected(ctx) for s in steps}
        tally = {"attempted": 0, "failed": 0}
        ticks0 = trace.cpu_ticks()
        setup(ctx, tracer)
        spark = spark_info(ctx.spark)
        tracing = trace.Tracing(ctx.spark) if args.trace else None
        with trace.RssSampler(tracer) as rss:
            passes = measure(ctx, steps, args.seconds, tracer, expected, tally, tracing)
        consistent = builds_consistent(passes)
        host = {"host_steal_vs_demand": trace.steal_frac(ticks0, trace.cpu_ticks())}
        info = stamp(args, steps, spark, host, len(passes) - 1)
        e2e = end_to_end(next(s for s in tracer.spans if s["name"] == "setup"), passes, rss, tally)
    finally:
        shutdown(ctx)

    from perfbench import report

    saved = {"stamp": info, "end_to_end": e2e, "peak_mb_by_process": rss.peak_by_process,
             "memory_mb": rss.samples}
    if tracing is not None:
        events = trace.read_event_log(os.path.join(WORK, "eventlog", tracing.app_id))
        metrics, saved["layer_self_s"] = report.per_layer(tracer.spans, passes, events, host)
        units = {k: v.unit for k, v in layers.PER_LAYER.items()}
    else:
        metrics, units = e2e, layers.END_TO_END
    correct = tally["failed"] == 0 and consistent
    result = {
        "correct": correct,
        "attempted": tally["attempted"],
        "failed": tally["failed"] + (0 if consistent else 1),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    saved.update(result, spans=tracer.spans)
    path = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(saved, fh, default=sorted)
    print(json.dumps({"stamp": info}), file=sys.stderr)
    if tracing is not None:
        print(report.format_report(saved), file=sys.stderr)
    for k, m in result["metrics"].items():
        print(f"{args.workload} {k} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
