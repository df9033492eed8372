"""Summary statistics and process measurements for benchmark runs."""

from __future__ import annotations

import os
import statistics


def percentile(xs: list[float], p: int) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def tail_percentile(n: int, candidates=(99, 95, 90, 75)) -> int | None:
    """Highest candidate percentile with at least ten of ``n`` samples
    beyond it."""
    for p in candidates:
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def descendants(pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over this process and its children (the JVM and its
    Python workers)."""
    kb = 0
    for pid in {os.getpid()} | descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot, from ``/proc/stat``: time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])
