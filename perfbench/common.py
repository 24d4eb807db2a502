"""Small statistics and timing helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import time


def timed(fn, *args, **kwargs):
    """(result, wall seconds) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = p / 100 * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def peak_rss_mb() -> float:
    """Peak resident set size of this process (VmHWM), in MiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found in /proc/self/status")


def _proc_stat(pid: int):
    """(ppid, CPU seconds incl. reaped children) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    tick = os.sysconf("SC_CLK_TCK")
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / tick


def tree_cpu_s(root_pids) -> float:
    """CPU seconds used so far by ``root_pids`` and all their descendants
    (user + system, including reaped children). Steal time is not CPU time,
    so this moves much less than wall time when the host is contended."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep = set(p for p in root_pids if p in stats)
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _cpu) in stats.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return sum(stats[p][1] for p in keep)


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) from /proc/stat, for host-contention notes."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def calibration_ms(reps: int = 9) -> float:
    """Median driver-thread CPU time (ms) of a fixed loop of the kinds of
    work a resident query does -- dict updates, sorting, small NumPy array
    arithmetic. It runs no program code, so its changes between runs are
    changes in host speed."""
    import random

    import numpy as np

    times = []
    for _ in range(reps):
        c0 = time.thread_time()
        rng = random.Random(12345)
        xs = [rng.random() for _ in range(5000)]
        acc: dict[int, float] = {}
        for i, x in enumerate(xs):
            acc[i % 257] = acc.get(i % 257, 0.0) + x
        a = np.asarray(sorted(xs))
        for _ in range(50):
            a = np.sort(a * 1.0001 + 0.5)[::-1].copy()
        times.append(time.thread_time() - c0)
    return 1e3 * statistics.median(times)
