"""Process-tree CPU / RSS and host steal, read from ``/proc``.

The tree is this Python process and every descendant: the JVM that
PySpark launches and the Python workers the JVM forks.  A process that
exited and was reaped by a parent inside the tree has its CPU in that
parent's ``cutime``/``cstime``, so summing ``utime + stime + cutime +
cstime`` over the live tree counts reaped workers too, and counts nothing
twice.
"""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the comm field may contain spaces: split after its closing paren
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    total = 0
    for p in tree_pids():
        f = _stat_fields(p)
        if f is not None:
            # fields 14-17 of /proc/<pid>/stat (1-based), after pid+comm
            total += sum(int(x) for x in f[11:15])
    return total / _HZ


def tree_rss_mb() -> float:
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE / 2**20


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _HZ if len(cpu) > 8 else 0.0


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _HZ


class PeakRss:
    """Samples the tree's summed RSS every 100 ms on a thread for the
    duration of a ``with`` block; ``peak_mb`` is the largest sample."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return False
