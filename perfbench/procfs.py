"""CPU time and resident memory of this process and all its descendants,
read from ``/proc``: the driver, the JVM it launches, and every Python
worker the JVM forks."""

from __future__ import annotations

import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _read_stats() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, cpu_ticks)} for every visible process. cpu_ticks
    counts the process's own time plus that of its reaped children, so a
    worker that exits mid-interval is not lost once its parent has
    waited for it."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        # fields after the parenthesised command name, which may hold spaces
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(rest[1]),
                          sum(int(x) for x in rest[11:15]))  # u/s/cu/cs time
    return out


def _tree(stats, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            pids.append(pid)
        stack.extend(children.get(pid, ()))
    return pids


def descendants() -> list[int]:
    """Live descendants of this process."""
    me = os.getpid()
    return [p for p in _tree(_read_stats(), me) if p != me]


def cpu_seconds() -> float:
    """CPU seconds used so far by the process tree."""
    stats = _read_stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid())) / _CLK


class PeakRss:
    """Peak resident memory of the tree over a ``with`` block: the sum of
    each process's own peak (VmHWM), after resetting every live
    process's peak to its current RSS on entry."""

    peak_mb = 0.0

    def __enter__(self):
        for pid in _tree(_read_stats(), os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:  # exited meanwhile
                pass
        return self

    def __exit__(self, *exc):
        total_kb = 0
        for pid in _tree(_read_stats(), os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    total_kb += next(int(line.split()[1]) for line in f
                                     if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                pass
        self.peak_mb = total_kb / 1e3


class Span:
    """Wall and process-tree CPU seconds of a ``with`` block."""

    wall_s = cpu_s = 0.0

    def __enter__(self):
        self._cpu0 = cpu_seconds()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = cpu_seconds() - self._cpu0
