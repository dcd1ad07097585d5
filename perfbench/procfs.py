"""CPU time and resident memory of a process tree, read from Linux /proc.

The tree is the Spark session's JVM and everything under it: the PySpark
daemon and the Python workers it forks. The benchmark's own Python process
is not part of it, so input generation and output checks do not count.
"""
from __future__ import annotations

import os

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # the command name may hold spaces and parentheses: split after it
            return fh.read().rpartition(")")[2].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_snapshot(root: int) -> dict[int, float]:
    """CPU seconds per live process of the tree. Reaped children's time is
    included through their parent's cutime/cstime, so a worker that exits
    mid-pass is not lost."""
    snap = {}
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            snap[pid] = sum(int(x) for x in f[11:15]) * _TICK_S
    return snap


def cpu_delta_s(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree used between two snapshots; a process born in
    between counts from zero."""
    return sum(t - before.get(pid, 0.0) for pid, t in after.items())


def peak_rss_mb(root: int) -> dict[int, float]:
    """Peak resident set (VmHWM) of each live process of the tree, in MB.
    A process that has already exited is not in it."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out
