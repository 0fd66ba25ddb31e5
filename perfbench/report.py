#!/usr/bin/env python3
"""Per-layer split of a traced run, and its printed report.

    python3 perfbench/report.py [perfbench/.work/results/<workload>-seed<n>-trace1.json ...]

Without arguments it reports every traced result saved under
``perfbench/.work/results``. Each per-layer metric is a mean per warm
traced pass (set-up metrics: the run's one set-up).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import layers, trace  # noqa: E402

_MEMO = ("memo_build", "memo_read")


def _stage_metrics(log: trace.EventLog, g: str) -> dict[str, float]:
    def s(name: str) -> float:
        return log.stage_sum(g, name)

    return {
        "spark.aqe_replans": log.replans.get(g, 0),
        "spark.jobs": log.jobs.get(g, 0),
        "spark.stages": len(log.stages.get(g, ())),
        "spark.tasks": len(log.tasks.get(g, ())),
        "spark.sched_overhead_s": log.sched_overhead_s(g),
        "catalog.scan_s": s("scan time") / 1e3,
        "catalog.input_mb": s("internal.metrics.input.bytesRead") / 1e6,
        "spark.task_run_s": s("internal.metrics.executorRunTime") / 1e3,
        "spark.task_cpu_s": s("internal.metrics.executorCpuTime") / 1e9,
        "spark.gc_s": s("internal.metrics.jvmGCTime") / 1e3,
        "spark.shuffle_write_mb": s("internal.metrics.shuffle.write.bytesWritten") / 1e6,
        "spark.shuffle_read_mb": (
            s("internal.metrics.shuffle.read.remoteBytesRead")
            + s("internal.metrics.shuffle.read.localBytesRead")
        )
        / 1e6,
        "spark.fetch_wait_s": s("internal.metrics.shuffle.read.fetchWaitTime") / 1e3,
        "spark.spill_mb": (
            s("internal.metrics.memoryBytesSpilled") + s("internal.metrics.diskBytesSpilled")
        )
        / 1e6,
        "functions.python_run_s": s("time to run Python workers") / 1e3,
        "functions.python_start_s": (
            s("time to start Python workers") + s("time to initialize Python workers")
        )
        / 1e3,
        "functions.python_io_mb": (
            s("data sent to Python workers") + s("data returned from Python workers")
        )
        / 1e6,
        "streaming.batches": len(log.batches.get(g, ())),
        "streaming.batch_s": sum(log.batches.get(g, ())),
    }


def pass_split(spans: list[dict], p: dict, log: trace.EventLog) -> dict[str, float]:
    """Self time per layer of one traced pass, from its spans.

    A step that executes while its DataFrame is built (a streaming query
    run to completion, an eager collect) has those jobs and micro-batches
    booked as "execution (construct)", not as operators: "operators" is
    query construction alone on every workload.
    """
    out = {"operators": 0.0, "execution (construct)": 0.0, "registry.build": 0.0,
           "registry.read": 0.0, "Catalyst": 0.0, "execution+fetch": 0.0}
    for step in p["steps"]:
        for s in trace.descendants(spans, step):
            d = trace.dur(s)
            if s["name"] == "construct":
                memos = [
                    (m["start"], m["end"]) for m in trace.descendants(spans, s) if m["name"] in _MEMO
                ]
                eager = log.busy_s(step["group"], s["start"], s["end"], minus=memos)
                out["operators"] += d - eager
                out["execution (construct)"] += eager
            elif s["name"] in _MEMO and spans[s["parent"]]["name"] not in _MEMO:
                key = "registry.build" if s["name"] == "memo_build" else "registry.read"
                out[key] += d
                out["operators"] -= d
            elif s["name"] == "action":
                plan = log.plan_s(s)
                out["Catalyst"] += plan
                out["execution+fetch"] += d - plan
    out["harness"] = trace.dur(p["span"]) - sum(out.values())
    return out


def per_layer(spans, passes: list[dict], events: list[dict], host: dict):
    """The per-layer metrics (means per warm traced pass) and the self
    time per layer of a traced run."""
    traced = [p for p in passes if p["traced"]]
    warm = [p for p in traced if p is not passes[0]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    log = trace.EventLog(events, [s for p in traced for s in p["steps"]])
    total: dict[str, float] = {k: 0.0 for k in layers.PER_LAYER}
    splits = []
    for p in warm:
        split = pass_split(spans, p, log)
        splits.append(split)
        total["operators.construct_s"] += split["operators"]
        total["registry.memo_build_s"] += split["registry.build"]
        total["spark.plan_s"] += split["Catalyst"]
        total["registry.memo_builds"] += len(p["builds"])
        cpu0, cpu1 = p["cpu"]
        total["proc.driver_cpu_s"] += cpu1["driver"] - cpu0["driver"]
        total["proc.jvm_cpu_s"] += cpu1["jvm"] - cpu0["jvm"]
        total["functions.worker_cpu_s"] += cpu1["workers"] - cpu0["workers"]
        for step in p["steps"]:
            g = step["group"]
            total["registry.memo_reads"] += sum(
                s["name"] == "memo_read" for s in trace.descendants(spans, step)
            )
            for k, v in _stage_metrics(log, g).items():
                total[k] += v
            if step["kind"] == "parity":
                map_s, reduce_s, records = log.parity_split(g)
                total["parity.map_s"] += map_s
                total["parity.reduce_write_s"] += reduce_s
                total["parity.shuffle_records"] += records
    out = {k: v / len(warm) for k, v in total.items()}

    for s in spans:
        if s["name"] in ("session.get_spark", "shipping.ship", "catalog.register_views"):
            out[s["name"] + "_s"] = trace.dur(s)
    out["host.steal_frac"] = host["host_steal_vs_demand"]
    out["trace.pass_s"] = statistics.median(trace.dur(p["span"]) for p in warm)
    out["trace.untraced_pass_s"] = statistics.median(trace.dur(p["span"]) for p in untraced)
    out["trace.overhead_frac"] = out["trace.pass_s"] / out["trace.untraced_pass_s"] - 1.0
    out["trace.unattributed_frac"] = statistics.fmean(
        1.0 - sum(trace.dur(s) for s in p["steps"]) / trace.dur(p["span"]) for p in warm
    )
    self_s = {k: statistics.fmean(d[k] for d in splits) for k in splits[0]}
    return out, self_s


def format_report(saved: dict) -> str:
    stamp = saved["stamp"]
    metrics = saved["metrics"]
    lines = [
        f"== {stamp['workload']} (seed {stamp['seed']}): per-layer split, mean per warm traced pass",
        f"{'metric':28} {'value':>11} {'unit':6} {'layer':17} {'should move':28} most work in / little in",
    ]
    for name, spec in layers.PER_LAYER.items():
        v = metrics[name]["value"]
        lines.append(
            f"{name:28} {v:11.4g} {spec.unit:6} {spec.layer:17} {spec.moves:28} {spec.most} / {spec.little}"
        )
    split = saved.get("layer_self_s", {})
    wall = metrics["trace.pass_s"]["value"]
    lines.append("self time per layer (s per warm traced pass):")
    for layer, v in split.items():
        lines.append(f"  {layer:22} {v:9.4f}  {v / wall:6.1%}")
    covered = 1.0 - metrics["trace.unattributed_frac"]["value"]
    ok = covered >= 1.0 - layers.ADDITIVITY_TOLERANCE
    lines.append(
        f"layers sum to {covered:.1%} of the pass wall time "
        f"({'within' if ok else 'OUTSIDE'} the {layers.ADDITIVITY_TOLERANCE:.0%} tolerance; "
        "the rest is the benchmark's own loop)"
    )
    lines.append(
        f"tracing overhead on pass_s: {metrics['trace.overhead_frac']['value']:+.1%} "
        f"(median traced warm pass {wall:.3f} s vs untraced {metrics['trace.untraced_pass_s']['value']:.3f} s, "
        "alternated in one session)"
    )
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    paths = argv or sorted(
        glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "results", "*-trace1.json"))
    )
    if not paths:
        print("no traced results; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    for path in paths:
        with open(path) as fh:
            print(format_report(json.load(fh)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
