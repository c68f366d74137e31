"""CPU time and memory of this process and every process under it: the
Python driver, the JVM it launched and the JVM's Python workers.

CPU time counts only the time the processes ran, so it repeats on a VM
whose host steals a varying share of the CPU, where wall time does not.
The JVM's JIT compiler and garbage collector threads are left out: the
compiler took about 45% of the JVM's CPU in a sampled run, and how much
of either falls inside one call depends on what the compiler or the
collector happens to be doing then, not on the call.  Collector time is
reported on its own (``jvm.gc_s``).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
# thread names (comm, 15 chars) of HotSpot's JIT compilers and G1
_BACKGROUND_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ")


def _tree(pid: int) -> list[int]:
    out = [pid]
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                for child in f.read().split():
                    out += _tree(int(child))
    except OSError:
        pass  # the process ended while being read
    return out


def _ticks(path: str, with_children: bool) -> int | None:
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # utime stime [cutime cstime]
    return sum(int(x) for x in fields[11 : 15 if with_children else 13])


class CpuMeter:
    """CPU seconds used so far by the process tree, reaped children in,
    JIT compiler and collector threads out."""

    def __init__(self) -> None:
        self._background: dict[tuple[int, str], bool] = {}
        self._last: dict[tuple[int, str], int] = {}  # background thread ticks

    def __call__(self) -> float:
        total = 0
        for pid in set(_tree(os.getpid())):
            ticks = _ticks(f"/proc/{pid}/stat", with_children=True)
            if ticks is not None:
                total += ticks - self._background_ticks(pid)
        return total / _TICK

    def _background_ticks(self, pid: int) -> int:
        """Ticks of the process's compiler and collector threads, live or
        ended (an ended thread's ticks stay in the process total)."""
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            tids = []
        for tid in tids:
            key = (pid, tid)
            if key not in self._background:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        name = f.read()
                except OSError:
                    continue
                self._background[key] = name.startswith(_BACKGROUND_THREADS)
            if self._background[key]:
                ticks = _ticks(f"/proc/{pid}/task/{tid}/stat", with_children=False)
                if ticks is not None:
                    self._last[key] = ticks
        return sum(t for (p, _tid), t in self._last.items() if p == pid)


def peak_rss_mb(pids) -> float:
    """Sum of the processes' peak resident sets."""
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024
    return total
