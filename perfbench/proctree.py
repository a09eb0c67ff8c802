"""Process-tree readings from ``/proc`` (Linux).

CPU of a tree is the sum over its live processes of user + system time
plus the time of their reaped children (``cutime``/``cstime``), so a
Python worker that exits and is waited for still counts. This covers the
driver's Python, the JVM it launches (JIT and GC threads included) and the
Python workers the JVM forks, which ``getrusage`` cannot: a live child is
never in ``RUSAGE_CHILDREN``.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited since the listing
        return None
    # the command name may hold spaces or parentheses: split at the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the tree's live processes of each one's peak resident set
    (``VmHWM``, kept by the kernel, so no sampling misses a peak), in MB."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1e3


def host_cpu_s() -> tuple[float, float]:
    """Host-wide ``(busy, steal)`` CPU seconds so far, all CPUs, from
    ``/proc/stat``. Busy time minus the tree's own CPU is the load that
    other processes put on the host meanwhile."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / _TICK, t[7] / _TICK
