"""CPU time and resident memory of this process and all its descendants,
read from /proc (Linux only).

The benchmark's process tree is this Python interpreter, the Spark JVM it
launches and the JVM's Python workers, so a tree-wide reading is what one
operation really costs the host.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # the process ended between listing and reading


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the tree, including descendants that have
    already exited and been reaped (their time sits in the parent's
    cutime/cstime), so a short-lived Python worker is not lost."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _peak_rss_bytes(pid: int) -> int | None:
    """The process's own high-water resident set (VmHWM), kept by the kernel."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


class PeakRss:
    """Peak resident memory of the tree: the sum over its processes of each
    one's high-water resident set. The kernel keeps each high-water mark, so
    no short peak is missed between samples; the background thread only
    records the marks of processes that may exit before the end. Use as a
    context manager; `peak_mb` is valid after exit."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self._marks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        for pid in tree_pids():
            mark = _peak_rss_bytes(pid)
            if mark is not None:
                self._marks[pid] = max(self._marks.get(pid, 0), mark)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return sum(self._marks.values()) / 2**20
