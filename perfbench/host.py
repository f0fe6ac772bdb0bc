"""Host context recorded in every result: core count, CPU steal and a
fixed numpy control kernel, so a contended window can be classified from
the result alone."""

from __future__ import annotations

import os
import resource
import time

import numpy as np


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks() -> tuple:
    """(steal_ticks, total_ticks) from the aggregate cpu line of
    /proc/stat; (0, 0) where /proc is unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def steal_frac(t0: tuple, t1: tuple) -> float:
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def control_kernel_s(reps: int = 9) -> float:
    """Median wall time of one rep of a fixed single-thread numpy
    workload (sort + sum of 2M doubles).  It touches no Spark, so when it
    slows too the machine was contended rather than the code regressed."""
    a = np.random.RandomState(0).rand(2_000_000)
    float(np.sort(a).sum())  # untimed first touch
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        float(np.sort(a).sum())
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def peak_rss_mb() -> float:
    """This process's peak resident set (ru_maxrss is KiB on Linux)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
