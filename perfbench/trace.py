"""Tracing for the benchmark: spans, process counters and Spark's event log.

Spans are recorded by the benchmark around its own calls into the
engine (no engine code is instrumented). Each span has a name, start,
end and parent; the spans of one query share its Spark job group, so
Spark's own events (jobs, stages, tasks, SQL executions) can be joined
to them. Everything is kept in memory and written when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import sys
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
# How long a switch of the event log waits for Spark's listener bus to drain.
DRAIN_TIMEOUT_MS = 30_000


class Tracer:
    """In-memory spans: name, group, parent, start and end (epoch seconds)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "group": group if group is not None else (parent or {}).get("group"),
            "parent": parent["id"] if parent else None,
            "start": self.now(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = self.now()
            self._stack.pop()


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def descendants(spans: list[dict], root: dict) -> list[dict]:
    ids = {root["id"]}
    out = []
    for s in spans:  # parents precede children
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


# --------------------------------------------------------------------
# process and host counters (/proc)


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return kids


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_s(pid: int, reaped_children: bool = False) -> float:
    """User+system CPU seconds of ``pid`` (plus its reaped children)."""
    f = _stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])  # utime, stime
    if reaped_children:
        ticks += int(f[13]) + int(f[14])  # cutime, cstime
    return ticks / _CLK_TCK


def pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, shared ones split among
    the processes sharing them (forked workers share their parent's)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1e3
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def jvm_pid() -> int | None:
    """The Spark driver JVM: the child of this process running java."""
    for pid in _children(os.getpid()):
        if _comm(pid) == "java":
            return pid
    return None


def worker_cpu_s(jvm: int | None) -> float:
    """CPU of the JVM's child processes: the Python daemon and workers."""
    if jvm is None:
        return 0.0
    return sum(cpu_s(p, reaped_children=True) for p in process_tree(jvm) if p != jvm)


def cpu_ticks() -> tuple[int, ...]:
    with open("/proc/stat") as fh:
        return tuple(int(x) for x in fh.readline().split()[1:])


def steal_frac(before: tuple[int, ...], after: tuple[int, ...]) -> float:
    """Host steal vs demand over an interval (tools/steal_sample.py's rule)."""
    from tools.steal_sample import summarize

    return summarize(before, after)["steal_vs_demand_pct"] / 100.0


class RssSampler:
    """Memory of this process tree (driver, JVM, Python workers) over
    time, summed as PSS so pages a forked worker shares are counted
    once. ``samples`` holds (epoch s, MB); the process mix at the
    highest sample is kept in ``peak_by_process``."""

    def __init__(self, tracer: Tracer, interval: float = 0.2) -> None:
        self.interval = interval
        self.samples: list[tuple[float, float]] = []
        self.peak_mb = 0.0
        self.peak_by_process: dict[str, float] = {}
        self._now = tracer.now
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def peak_between(self, start: float, end: float) -> float:
        return max((mb for t, mb in self.samples if start <= t <= end), default=0.0)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            by_pid = {p: pss_mb(p) for p in process_tree(me)}
            total = sum(by_pid.values())
            self.samples.append((self._now(), total))
            if total > self.peak_mb:
                self.peak_mb = total
                self.peak_by_process = {}
                for p, mb in by_pid.items():
                    name = _comm(p)
                    self.peak_by_process[name] = self.peak_by_process.get(name, 0.0) + mb
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Tracing:
    """Switches a session's event log on and off between passes, and
    samples the CPU of the driver, the JVM and the Python workers.

    The event log is enabled at launch; switching it off detaches its
    listener from Spark's listener bus, and switching it on attaches it
    again. Either way the bus is first drained, so every event of the
    pass before the switch reaches the log (removing a listener drops
    what is still queued for it) and none reaches it after."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._logger = self._sc.eventLogger().get()
        self._on = True
        self.app_id = spark.sparkContext.applicationId
        self._jvm = jvm_pid()

    def switch(self, on: bool) -> None:
        if on != self._on:
            self._sc.listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)
            if on:
                self._sc.addSparkListener(self._logger)
            else:
                self._sc.removeSparkListener(self._logger)
            self._on = on

    def cpu(self) -> dict[str, float]:
        return {
            "driver": sum(os.times()[:2]),
            "jvm": cpu_s(self._jvm) if self._jvm else 0.0,
            "workers": worker_cpu_s(self._jvm),
        }


# --------------------------------------------------------------------
# memo builds, timed from outside the registry


@contextlib.contextmanager
def traced_shared_frame(tracer: Tracer):
    """Wrap ``registry.shared_frame`` wherever the engine imported it, so
    each call becomes a ``memo_build`` or ``memo_read`` span."""
    from go_map_reduce_spark import registry

    orig = registry.shared_frame

    def shared_frame(spark, key, builder, data_path=None):
        before = set(registry._SHARED_FRAMES)
        with tracer.span("memo_read") as s:
            df = orig(spark, key, builder, data_path)
            if any(k[1] == key for k in set(registry._SHARED_FRAMES) - before):
                s["name"] = "memo_build"
        return df

    patched = [
        m
        for name, m in list(sys.modules.items())
        if name.startswith("go_map_reduce_spark") and getattr(m, "shared_frame", None) is orig
    ]
    for m in patched:
        m.shared_frame = shared_frame
    try:
        yield
    finally:
        for m in patched:
            m.shared_frame = orig


# --------------------------------------------------------------------
# Spark event log


def read_event_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _acc(info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in info.get("Accumulables", ()):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a.get("Value") or 0)
        except (TypeError, ValueError):
            pass
    return out


def _iso_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _merge(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint union of (start, end) intervals; empty ones dropped."""
    out: list[tuple[float, float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


class EventLog:
    """Spark events attributed to the benchmark's job groups.

    A job belongs to the group in its ``spark.jobGroup.id``; a job run
    outside any benchmark group (a streaming micro-batch runs on the
    stream's own thread) belongs to the step whose span contains its
    submission time.
    """

    def __init__(self, events: list[dict], steps: list[dict]) -> None:
        known = {s["group"] for s in steps}

        def owner(group: str | None, t: float) -> str | None:
            if group in known:
                return group
            for s in steps:
                if s["start"] <= t <= s["end"]:
                    return s["group"]
            return None

        job_group: dict[int, str | None] = {}
        stage_job: dict[int, int] = {}
        self.jobs: dict[str, int] = {}
        self.stages: dict[str, list[dict]] = {}
        self.tasks: dict[str, list[dict]] = {}
        self.sql_starts: dict[str, list[float]] = {}
        self.replans: dict[str, int] = {}
        self.batches: dict[str, list[float]] = {}
        # (start, end) of each job and streaming micro-batch, by group
        self.busy: dict[str, list[tuple[float, float]]] = {}
        job_start: dict[int, float] = {}
        exec_group: dict[int, str | None] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = owner(e.get("Properties", {}).get("spark.jobGroup.id"), e["Submission Time"] / 1e3)
                job_group[e["Job ID"]] = g
                job_start[e["Job ID"]] = e["Submission Time"] / 1e3
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
                if g:
                    self.jobs[g] = self.jobs.get(g, 0) + 1
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(e["Job ID"])
                if g:
                    interval = (job_start[e["Job ID"]], e["Completion Time"] / 1e3)
                    self.busy.setdefault(g, []).append(interval)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                g = job_group.get(stage_job.get(info["Stage ID"]))
                if g:
                    self.stages.setdefault(g, []).append(_acc(info))
            elif kind == "SparkListenerTaskEnd":
                g = job_group.get(stage_job.get(e["Stage ID"]))
                if g and e.get("Task Metrics"):
                    self.tasks.setdefault(g, []).append(
                        {"info": e["Task Info"], "metrics": e["Task Metrics"]}
                    )
            elif kind.endswith("SQLExecutionStart"):
                g = owner(e.get("jobGroupId"), e["time"] / 1e3)
                exec_group[e["executionId"]] = g
                if g:
                    self.sql_starts.setdefault(g, []).append(e["time"] / 1e3)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                g = exec_group.get(e["executionId"])
                if g:
                    self.replans[g] = self.replans.get(g, 0) + 1
            elif kind.endswith("QueryProgressEvent"):
                p = e["progress"]
                start = _iso_epoch(p["timestamp"])
                g = owner(None, start)
                if g:
                    d = p.get("batchDuration", 0) / 1e3
                    self.batches.setdefault(g, []).append(d)
                    self.busy.setdefault(g, []).append((start, start + d))

    def busy_s(self, group: str, start: float, end: float, minus=()) -> float:
        """Wall time within [start, end] during which a job or micro-batch
        of ``group`` ran, leaving out the ``minus`` intervals."""
        busy = _merge((max(a, start), min(b, end)) for a, b in self.busy.get(group, ()))
        cut = _merge(minus)
        return sum(b - a for a, b in busy) - sum(
            max(0.0, min(b, d) - max(a, c)) for a, b in busy for c, d in cut
        )

    def stage_sum(self, group: str, name: str) -> float:
        return sum(a.get(name, 0.0) for a in self.stages.get(group, ()))

    def sched_overhead_s(self, group: str) -> float:
        total = 0.0
        for t in self.tasks.get(group, ()):
            info, m = t["info"], t["metrics"]
            busy = m["Executor Run Time"] + m["Executor Deserialize Time"]
            busy += m["Result Serialization Time"]
            total += max(0, info["Finish Time"] - info["Launch Time"] - busy) / 1e3
        return total

    def plan_s(self, action: dict) -> float:
        """Action call to the first SQL execution it started."""
        starts = [t for t in self.sql_starts.get(action["group"], ()) if t >= action["start"]]
        return max(0.0, min(starts) - action["start"]) if starts else 0.0

    def parity_split(self, group: str) -> tuple[float, float, float]:
        """(map-side run s, reduce+write run s, shuffle records) of a job."""
        map_s = reduce_s = records = 0.0
        for a in self.stages.get(group, ()):
            run = a.get("internal.metrics.executorRunTime", 0.0) / 1e3
            written = a.get("internal.metrics.shuffle.write.recordsWritten", 0.0)
            if written:
                map_s += run
                records += written
            else:
                reduce_s += run
        return map_s, reduce_s, records
