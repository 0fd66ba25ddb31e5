"""Run a command while sampling /proc/stat — the missing column in
the r11-r13 bench-contention saga.

The r12 verdict could not explain marathons drifting 1.1-1.6x with
"zero builder processes" and low guest loadavg: the contention is
HOST-side CPU steal (this box is a VM on an oversubscribed host),
which no process listing inside the guest can show.  This wrapper
makes it measurable: it samples the aggregate cpu line every
SAMPLE_SECONDS while the wrapped command runs and prints the
user/system/idle/steal shares of total capacity plus
steal-vs-demand (steal / (steal + non-idle)) — the fraction of the
CPU the guest WANTED but did not get.  A marathon artifact is citable
for cross-round comparison only with this number attached
(PERFORMANCE.md r13 protocol).

Usage: python tools/steal_sample.py -- <command ...>
"""

from __future__ import annotations

import subprocess
import sys
import threading
import time

SAMPLE_SECONDS = 5.0


def cpu_ticks() -> tuple[int, ...]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return tuple(int(x) for x in parts[1:])


def summarize(before: tuple[int, ...], after: tuple[int, ...]) -> dict:
    d = [a - b for a, b in zip(after, before)]
    user, nice, system, idle, iowait, irq, softirq, steal = d[:8]
    total = sum(d[:8])
    busy = user + nice + system + irq + softirq
    demand = busy + steal  # what the guest wanted
    # steal-vs-demand is only meaningful UNDER LOAD: on an idle guest
    # demand ~= steal ~= a few ticks and the ratio reads ~100% while
    # the box is fine.  Report 0 when demand is under 2% of capacity;
    # the absolute steal_pct column is always meaningful.
    meaningful = total and demand >= 0.02 * total
    return {
        "user_pct": 100.0 * user / total if total else 0.0,
        "system_pct": 100.0 * system / total if total else 0.0,
        "idle_pct": 100.0 * idle / total if total else 0.0,
        "steal_pct": 100.0 * steal / total if total else 0.0,
        "steal_vs_demand_pct": 100.0 * steal / demand if meaningful else 0.0,
    }


def main(argv: list[str]) -> int:
    if "--" in argv:
        cmd = argv[argv.index("--") + 1 :]
    else:
        cmd = argv[1:]
    if not cmd:
        print("usage: steal_sample.py -- <command ...>", file=sys.stderr)
        return 2

    peaks = {"steal_pct": 0.0, "steal_vs_demand_pct": 0.0}
    start = cpu_ticks()
    stop = threading.Event()

    def _watch() -> None:
        prev = start
        while not stop.wait(SAMPLE_SECONDS):
            cur = cpu_ticks()
            s = summarize(prev, cur)
            for k in peaks:
                peaks[k] = max(peaks[k], s[k])
            prev = cur

    t = threading.Thread(target=_watch, daemon=True)
    t.start()
    t0 = time.monotonic()
    rc = subprocess.run(cmd).returncode
    wall = time.monotonic() - t0
    stop.set()
    t.join(timeout=SAMPLE_SECONDS + 1)
    s = summarize(start, cpu_ticks())
    print(
        f"STEAL_SAMPLE wall={wall:.1f}s "
        f"user={s['user_pct']:.1f}% sys={s['system_pct']:.1f}% "
        f"idle={s['idle_pct']:.1f}% steal={s['steal_pct']:.1f}% "
        f"steal_vs_demand={s['steal_vs_demand_pct']:.1f}% "
        f"(peaks: steal={peaks['steal_pct']:.1f}%, "
        f"vs_demand={peaks['steal_vs_demand_pct']:.1f}%)"
    )
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
