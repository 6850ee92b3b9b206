"""Summary statistics and host readings shared by every workload."""

from __future__ import annotations

import math
import os
import statistics

MIN_TAIL = 10  # samples a percentile needs beyond it to be reported


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0 < q < 100) of a latency sample, by
    linear interpolation between closest ranks.

    Refuses (``ValueError``) when fewer than ``MIN_TAIL`` samples lie
    beyond the percentile: a p90 over 40 samples is decided by its top
    four values, which is noise, not a tail.  So p50 needs 20 samples
    and p90 needs 100."""
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n = len(values)
    beyond = n * (100 - q) / 100
    if beyond < MIN_TAIL:
        raise ValueError(
            f"p{q:g} needs {MIN_TAIL} samples beyond it; "
            f"{n} samples leave {beyond:.1f}"
        )
    s = sorted(values)
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    """Median of repeated whole measurements (set-ups, passes), where
    every sample is itself a full run of the thing measured."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def children(pid: int) -> list[int]:
    """Direct child pids of ``pid`` (all threads' children)."""
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                continue
    except OSError:
        pass
    return out


def peak_rss_mb() -> float:
    """VmHWM of this Python process plus its direct children (the JVM
    that py4j launched).  Python workers forked below the JVM are left
    out: they share pages with their daemon and come and go with tasks."""
    me = os.getpid()
    return vm_hwm_mb(me) + sum(vm_hwm_mb(c) for c in children(me))
