"""CPU clock of the benchmark's process tree.

On a few virtual cores of a shared host, wall time mostly tracks how much
CPU the host's other tenants take (the kernel reports it as steal): on a
4-core VM, runs of the same work on the same commit took anywhere from 59
to 131 s, and two busy loops beside a run made its Spark steps 30-50%
slower on the wall clock but at most about 10% dearer in CPU time. CPU
time is charged only while the program really runs, so the benchmark
reports the CPU seconds an operation costs across every process it uses:
this Python process, the Spark driver JVM it launched and the Python
workers that JVM forks for pandas UDFs.

Two parts are left out: the JVM's JIT compiler threads and its garbage
collector threads. In a fresh JVM the compiler threads spent more than
half of the CPU of an ingest day or a gold refresh, compiling whatever
happened to turn hot; that was the largest source of run-to-run spread
and says nothing about the program's own work. G1's concurrent cycles
start whenever the heap's occupancy says so, and one that fell into the
report requests of a run raised their median CPU time from about 150
to 260 ms. The session
starts with ``-XX:-UseDynamicNumberOfCompilerThreads`` and
``-XX:-UseDynamicNumberOfGCThreads`` so that all those threads exist from
the start and live as long as the JVM, and their time can be subtracted.
What remains is the CPU time of the threads that run the program: the
Python driver, the Py4J threads that plan its queries, Spark's scheduler
and task threads and the Python workers.

Times come from ``/proc/<pid>/stat`` (utime + stime of every thread, plus
cutime + cstime of reaped children) and ``/proc/<pid>/task/<tid>/stat``,
in clock ticks.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, cpu ticks) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    # fields[0] is field 3 of proc(5): state; ppid is 4, utime..cstime 14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15])


# (pid, tid) of the threads whose time the clock leaves out
_excluded: list[tuple[int, int]] = []


# thread names (cut to 15 letters by the kernel) of the JIT compiler and
# code cache sweeper, and of the G1 collector
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread", "GC Thread", "G1 ")


def exclude_jvm_service_threads(pid: int) -> int:
    """Leave the compiler and collector threads of JVM ``pid`` out of the
    clock from now on; returns how many there are."""
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(JVM_SERVICE_THREADS):
                    _excluded.append((pid, int(tid)))
        except OSError:
            pass
    return len(_excluded)


def _thread_ticks(pid: int, tid: int) -> int:
    try:
        with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return 0
    fields = raw[raw.rindex(b")") + 2:].split()
    return int(fields[11]) + int(fields[12])


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (this process by default) and
    every live process below it, excluded threads left out."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(name)
        if st is None:
            continue
        pid = int(name)
        children.setdefault(st[0], []).append(pid)
        ticks[pid] = st[1]
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    total -= sum(_thread_ticks(pid, tid) for pid, tid in _excluded)
    return total * _TICK


@dataclass
class Reading:
    wall: float
    cpu: float


class Clock:
    """Wall and CPU time of one timed region::

        with Clock() as c:
            work()
        c.wall, c.cpu
    """

    def __enter__(self) -> "Clock":
        self._cpu0 = tree_cpu_seconds()
        self._wall0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._wall0
        self.cpu = tree_cpu_seconds() - self._cpu0

    @property
    def reading(self) -> Reading:
        return Reading(self.wall, self.cpu)
