"""Summary statistics and process counters (stdlib only)."""

from __future__ import annotations

import math
import os
import statistics


def tail_percentile(samples: list[float]) -> tuple[int, float, int]:
    """The highest whole percentile with at least ten samples above it.

    Uses the nearest-rank definition: the p-th percentile of ``n`` sorted
    samples is the ``ceil(p/100 * n)``-th smallest, and the samples beyond
    it are the ``n - ceil(p/100 * n)`` larger ones.  Returns ``(p, value,
    samples_beyond)``.  With fewer than eleven samples no percentile has
    ten beyond it: the tail is unresolved, and the median is returned as
    percentile 50 with the count of samples above it.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    s = sorted(samples)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return p, s[rank - 1], n - rank
    mid = statistics.median(s)
    return 50, mid, sum(1 for x in s if x > mid)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int) -> float:
    """utime + stime of one process, from ``/proc/<pid>/stat``."""
    fields = _stat_fields(pid)
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after the last ')'
        return f.read().rsplit(")", 1)[1].split()


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(d))[1]), []).append(int(d))
            except OSError:
                continue
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out
