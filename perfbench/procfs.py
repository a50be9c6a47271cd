"""CPU and memory of a process tree, read from /proc.

The benchmark's tree is the driver Python process, the JVM it launches and
the JVM's Python workers."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # own user+system time plus that of reaped children
    rss_bytes: int


def read_stat(pid: int) -> ProcStat | None:
    """One process's /proc/<pid>/stat, or None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces and parentheses; it ends at the last ')'
    lparen, rparen = raw.index("("), raw.rindex(")")
    fields = raw[rparen + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))  # utime stime cutime cstime
    return ProcStat(
        pid=pid,
        ppid=int(fields[1]),
        comm=raw[lparen + 1 : rparen],
        cpu_s=ticks / CLK_TCK,
        rss_bytes=int(fields[21]) * PAGE_SIZE,
    )


def process_tree(root: int, exclude: frozenset[int] = frozenset()) -> list[ProcStat]:
    """``root`` and all its live descendants, less the subtrees of ``exclude``."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = read_stat(int(entry))
            if st is not None:
                stats[st.pid] = st
    kids: dict[int, list[int]] = {}
    for st in stats.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in exclude:
            out.append(stats[pid])
            todo.extend(kids.get(pid, []))
    return out


@dataclass(frozen=True)
class TreeSample:
    cpu_s: float
    rss_bytes: int
    py_worker_cpu_s: float  # Python processes below the first non-Python child


def sample_tree(root: int, exclude: frozenset[int] = frozenset()) -> TreeSample:
    """Totals over the tree. Python workers are the Python processes that
    descend from a non-Python process (the JVM) below ``root``."""
    procs = process_tree(root, exclude)
    by_pid = {p.pid: p for p in procs}

    def under_foreign_parent(p: ProcStat) -> bool:
        while p.pid != root:
            parent = by_pid.get(p.ppid)
            if parent is None:
                return False
            if not parent.comm.startswith("python"):
                return True
            p = parent
        return False

    return TreeSample(
        cpu_s=sum(p.cpu_s for p in procs),
        rss_bytes=sum(p.rss_bytes for p in procs),
        py_worker_cpu_s=sum(
            p.cpu_s for p in procs if p.comm.startswith("python") and under_foreign_parent(p)
        ),
    )


class PeakRss:
    """Samples the tree's combined RSS on a background thread and keeps
    the peak. Use as a context manager; ``peak_bytes`` is valid after exit."""

    def __init__(self, root: int, interval_s: float = 0.5, exclude: frozenset[int] = frozenset()):
        self.root = root
        self.exclude = exclude
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, sample_tree(self.root, self.exclude).rss_bytes)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, sample_tree(self.root, self.exclude).rss_bytes)


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests instead of this
    machine, summed over its CPUs since boot (the ``steal`` column of
    /proc/stat). A rise during a run means the host was contended."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK
