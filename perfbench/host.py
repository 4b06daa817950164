"""Host facts recorded with every run, and the memory sampler.

Linux only: everything is read from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time


def cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    total = sum(vals[:8])  # user..steal; guest time is already in user
    return total - idle, vals[7], total


def busy_fraction(interval_s: float = 0.5) -> float:
    """Share of all CPUs busy (any process, this container's or not, and
    time stolen by the hypervisor) over ``interval_s``."""
    b0, _, t0 = cpu_times()
    time.sleep(interval_s)
    b1, _, t1 = cpu_times()
    return (b1 - b0) / (t1 - t0) if t1 > t0 else 0.0


def host_record(worker_pythonpath: str) -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "busy_frac_start": round(busy_fraction(), 4),
        "worker_pythonpath": worker_pythonpath,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:  # the process ended between listing and reading
        return 0


class RssSampler:
    """Peak summed RSS of every descendant of this process — the driver
    JVM, the PySpark daemon and its Python workers — sampled from /proc
    every ``period_s`` on a background thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def pin_tree(pid: int, cpus: set[int]) -> int:
    """Set the CPU affinity of every thread of ``pid`` and of all its
    descendants; threads and processes they start later inherit it.
    Returns the number of threads pinned."""
    n = 0
    for p in [pid] + descendants(pid):
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
                n += 1
            except OSError:  # the thread ended meanwhile
                pass
    return n


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    ``pid`` and every live descendant."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / tick


def stamp() -> tuple[float, float]:
    """(wall clock, CPU seconds of this process tree) now."""
    return time.perf_counter(), tree_cpu_s(os.getpid())


def since(t0: tuple[float, float]) -> tuple[float, float]:
    """(wall seconds, CPU seconds of this process tree) since ``t0``."""
    wall, cpu = stamp()
    return wall - t0[0], cpu - t0[1]
