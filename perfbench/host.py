"""Host context stamped on every run: a CPU canary and /proc/stat shares.

Both are context for reading a result, never gated metrics. The canary
runs one identical pure-Python loop per core in parallel child
processes, each timing its own loop; on a shared virtual machine the
spread between those loops (and the first, cold burst) shows how evenly
the cores deliver work while the benchmark runs. The children are plain
subprocesses that this process waits for: ``multiprocessing`` would
leave its resource-tracker process running past the end of the run.
The /proc/stat shares say how much of the run's CPU time went to the
kernel and how much the hypervisor stole.
"""

from __future__ import annotations

import os
import subprocess
import sys

CANARY_ITERS = 400_000
_SPIN = f"""
import time
t0 = time.perf_counter()
acc = 0
for i in range({CANARY_ITERS}):
    acc = (acc * 31 + i) & 0xFFFFFFFF
print(time.perf_counter() - t0)
"""


def _burst(cores: int) -> list[float]:
    """Loop seconds of ``cores`` loops run at once."""
    procs = [subprocess.Popen([sys.executable, "-c", _SPIN],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(cores)]
    try:
        return [float(p.communicate(timeout=120)[0]) for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()


def canary(cores: int, bursts: int = 2) -> dict:
    """Loop seconds per core for each burst; the first burst is warm-up."""
    runs = [_burst(cores) for _ in range(bursts)]
    last = sorted(runs[-1])
    return {"cores": cores, "first_burst_max_s": round(max(runs[0]), 4),
            "loop_min_s": round(last[0], 4),
            "loop_max_s": round(last[-1], 4)}


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies), or [] when the
    platform has none."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return []
    return [int(x) for x in fields[1:]] if fields[:1] == ["cpu"] else []


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """user/sys/iowait/steal shares of all CPU time between two samples."""
    if not before or not after:
        return {}
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    # /proc/stat order: user nice system idle iowait irq softirq steal
    return {"user_frac": round((d[0] + d[1]) / total, 4),
            "sys_frac": round((d[2] + d[5] + d[6]) / total, 4),
            "iowait_frac": round(d[4] / total, 4),
            "steal_frac": round(d[7] / total, 4) if len(d) > 7 else 0.0}


def usable_cores() -> int:
    """Cores this process may run on (what ``nproc`` reports without an
    OMP_NUM_THREADS override)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1
