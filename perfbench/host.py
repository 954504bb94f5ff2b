"""Host accounting: own process tree CPU, whole-box busy CPU, peak RSS.

The co-tenant share of a window is the box's busy CPU minus the CPU this
benchmark's own process tree used, as a share of the window's whole-box
CPU budget (wall x cores).  The Spark JVM and its Python workers are
never wait()ed by the benchmark process, so getrusage alone would miss
almost all of the engine's CPU; live descendants are read from /proc.
"""

from __future__ import annotations

import os
import resource
import time

#: co-tenant share of whole-box CPU above which a window counts as dirty
DIRTY_FRAC = 0.04


def ncores() -> int:
    return len(os.sched_getaffinity(0))


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime seconds) for every readable process."""
    tick = os.sysconf("SC_CLK_TCK")
    info: dict[int, tuple[int, float]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            # rest[1]=ppid, rest[11]=utime, rest[12]=stime
            info[int(pid)] = (int(rest[1]),
                              (int(rest[11]) + int(rest[12])) / tick)
        except (OSError, IndexError, ValueError):
            continue
    return info


def descendants(root: int | None = None, info=None) -> list[int]:
    """Live descendant pids of `root` (default: this process)."""
    info = _proc_table() if info is None else info
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root or os.getpid(), []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu_sec() -> float:
    """CPU seconds of this process, its reaped children and its live
    descendants."""
    r_self = resource.getrusage(resource.RUSAGE_SELF)
    r_ch = resource.getrusage(resource.RUSAGE_CHILDREN)
    info = _proc_table()
    return (r_self.ru_utime + r_self.ru_stime + r_ch.ru_utime + r_ch.ru_stime
            + sum(info[p][1] for p in descendants(info=info)))


def box_busy_sec() -> float:
    """Whole-box busy CPU seconds since boot (all cores, minus idle and
    iowait)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy = sum(v) - v[3] - (v[4] if len(v) > 4 else 0)
    return busy / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS (VmHWM).
    The peaks need not coincide, so this is an upper bound on the tree's
    simultaneous peak."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class Window:
    """Co-tenant accounting over one timed window."""

    def __enter__(self) -> "Window":
        self.own0, self.busy0 = tree_cpu_sec(), box_busy_sec()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.own_cpu = tree_cpu_sec() - self.own0
        other = max(0.0, box_busy_sec() - self.busy0 - self.own_cpu)
        self.cotenant_frac = other / (self.wall * ncores())

    @property
    def clean(self) -> bool:
        return self.cotenant_frac <= DIRTY_FRAC
