"""CPU accounting from /proc (Linux).

``tree_cpu_s`` sums user+system time of a process and every live
descendant (the Spark JVM and the Python workers it forks), plus the
time of the children each of them has reaped, so a worker that exits
between two readings still counts.
``CpuClock`` adds this process's own CPU time, so an invocation's CPU
cost can be measured alongside its wall time. ``steal_s`` reads the CPU
time the hypervisor took from this machine, which explains wall-time
noise on a shared host; ``unstolen`` takes it out of a wall time.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, user+system seconds) of ``pid``, its reaped children
    included (utime, stime, cutime, cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def tree_cpu_s(root: int) -> float:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def unstolen(wall: float, cpu: float, steal: float) -> float:
    """``wall`` without the time the hypervisor stole from it.

    While the program runs it is nearly all that runs on this machine,
    and a vCPU accrues steal only while it has work to run. So the
    program's threads were runnable for ``cpu + steal`` CPU seconds and
    ran for ``cpu`` of them; with no steal, the same work would have
    taken ``wall * cpu / (cpu + steal)``."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


class CpuClock:
    """CPU seconds used by this process plus the JVM's process tree."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def now(self) -> float:
        return time.process_time() + tree_cpu_s(self.jvm_pid)
