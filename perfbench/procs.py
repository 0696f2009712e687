"""Process-tree sampler: CPU time and resident memory of the engine.

The engine under test is the Spark driver JVM this process launches plus the
Python workers that JVM forks. Both are read from ``/proc`` from outside,
so the engine carries no instrumentation. The benchmark's own Python process
(input generation, result digests) is excluded: only its descendants count.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process whose ancestor chain reaches ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root``'s descendants, including children
    they already reaped (a finished Python worker lands in its parent's
    cutime/cstime), so a difference of two readings is the tree's CPU use."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of proc(5)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``'s descendants. A child still sharing its
    parent's address space (the instant between a JVM's posix_spawn and the
    exec) reports the parent's memory as its own and is skipped."""
    stats = {}
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # ppid, vsize, rss: fields 4, 23 and 24 of proc(5)
            stats[pid] = (int(fields[1]), fields[20], int(fields[21]))
    total = 0
    for pid, (ppid, vsize, rss) in stats.items():
        parent = stats.get(ppid)
        if parent is None or parent[1:] != (vsize, rss):
            total += rss * _PAGE
    return total


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: the share
    stolen by the hypervisor is host interference no run can control."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class TreeSampler:
    """Background thread that tracks the peak summed RSS of this process's
    descendants, plus their CPU time on demand."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.root = os.getpid()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> TreeSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(self.root)

    def peak_bytes(self) -> int:
        with self._lock:
            return max(self._peak, tree_rss_bytes(self.root))

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root)
