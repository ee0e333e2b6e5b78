"""CPU time and memory of a process and all its descendants, from ``/proc``.

Spark's ``executorCpuTime`` counts JVM task threads only.  In a PySpark job
most of the work runs elsewhere: in ``pyspark.daemon`` workers and in the
executables ``RDD.pipe`` spawns under them.  Summing ``/proc`` over the
whole tree (driver, JVM, Python workers, pipe children) sees all of it.

``utime+stime`` is a process's own CPU; ``cutime+cstime`` is the CPU of
children it has already reaped.  Their sum over every live process in the
tree therefore keeps counting work done by processes that have exited.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    cmdline: str
    cpu_s: float  # own CPU: utime + stime
    child_cpu_s: float  # reaped children: cutime + cstime
    peak_rss_mb: float  # VmHWM: this process's resident-memory high-water mark


def _read(pid: int) -> tuple[int, float, float] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # exited since the directory was listed
        return None
    # comm may hold spaces or parentheses; the fields after the last ')' don't
    fields = stat[stat.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    children = (int(fields[13]) + int(fields[14])) / _TICK
    return ppid, own, children


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0  # exited, or a kernel thread / zombie without memory


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace").strip()
    except OSError:
        return ""


def snapshot(root: int | None = None) -> list[ProcStat]:
    """Every live process in the tree rooted at ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    stats: dict[int, tuple[int, float, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: list[ProcStat] = []
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        ppid, own, reaped = stats[pid]
        out.append(ProcStat(pid, ppid, _cmdline(pid), own, reaped, _peak_rss_mb(pid)))
        todo.extend(children.get(pid, ()))
    return out


def is_python_worker(p: ProcStat) -> bool:
    """A PySpark worker: the daemon and the workers it forks."""
    return "pyspark.daemon" in p.cmdline or "pyspark.worker" in p.cmdline


@dataclass(frozen=True)
class TreeUsage:
    cpu_s: float  # whole tree, including reaped descendants
    py_cpu_s: float  # Python workers, including the executables they reaped
    peak_rss_mb: float  # sum of per-process high-water marks


def usage(root: int | None = None) -> TreeUsage:
    procs = snapshot(root)
    return TreeUsage(
        cpu_s=sum(p.cpu_s + p.child_cpu_s for p in procs),
        py_cpu_s=sum(p.cpu_s + p.child_cpu_s for p in procs if is_python_worker(p)),
        peak_rss_mb=sum(p.peak_rss_mb for p in procs),
    )
