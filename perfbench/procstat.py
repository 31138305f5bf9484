"""CPU and memory of this process and all its descendants, from /proc.

The tree is the benchmark's own Python process, the Spark JVM it launches
and the JVM's Python workers. CPU is summed as user + system time of
every live process plus the time of its reaped children, so a worker
that exits between two readings still counts through its parent.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # the process exited while we were listing
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from state onwards


def tree() -> list[tuple[str, list[str]]]:
    """(pid, stat fields) of this process and every descendant."""
    stats = {}
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(pid)) is not None:
            stats[pid] = st
            children.setdefault(st[1], []).append(pid)
    out, todo = [], [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            todo += children.get(pid, [])
    return out


def tree_cpu_s() -> float:
    """utime + stime + cutime + cstime over the tree, in seconds."""
    return sum(sum(int(x) for x in st[11:15]) for _, st in tree()) / _TICK


def _exe(pid: str) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:  # exited
        return ""


def _pss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
    except (OSError, StopIteration):  # exited
        return 0


def tree_rss_mb() -> float:
    """Resident memory of the tree. The JVM counts its RSS. Python
    processes count their proportional share (PSS): the daemon's forked
    workers share most of their pages, so a worker more or less moves
    the total by its private pages only. A child of the JVM that still
    runs the JVM's binary is a command being spawned: until it execs it
    shares the JVM's memory, so it is not counted."""
    procs = tree()
    exe = {pid: _exe(pid) for pid, _ in procs}
    kb = 0
    for pid, st in procs:
        if not exe[pid].endswith("/java"):
            kb += _pss_kb(pid)
        elif exe.get(st[1]) != exe[pid]:
            kb += int(st[21]) * _PAGE // 1024
    return kb / 1024


class PeakRss:
    """Samples the tree's memory every 200 ms in a background thread
    while the ``with`` block runs."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


_SPIN = "s = 0\nfor i in range(2_000_000):\n    s += i * i % 7\n"


def cpu_probe_s() -> float:
    """Wall time of a fixed pure-Python loop run at once by one fresh
    interpreter per CPU: it rises when the host is slower, whatever the
    program under test does."""
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", _SPIN])
             for _ in range(len(os.sched_getaffinity(0)))]
    for p in procs:
        p.wait()
    return time.perf_counter() - t0
