"""Process-tree readings from ``/proc`` (``psutil`` is not available).

The benchmark's own Python process is the Spark driver client; the JVM is
its child and the PySpark Python workers are the JVM's descendants, so the
tree rooted at ``os.getpid()`` is everything the program runs.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    return _stat_fields_at(f"/proc/{pid}/stat")


def _stat_fields_at(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process or thread exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after ')' is positional
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields (``[comm, state, ppid, ...]``) for ``root`` and
    every descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
    keep, frontier = {root}, [root]
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[2]), []).append(pid)
    while frontier:
        for child in children.get(frontier.pop(), []):
            if child not in keep:
                keep.add(child)
                frontier.append(child)
    return {pid: stats[pid] for pid in keep if pid in stats}


def rss_bytes(root: int) -> int:
    """Resident set size of the whole tree (field 24, in pages)."""
    return sum(int(f[22]) for f in tree(root).values()) * _PAGE


# JVM threads that compile code in the background; how much they run during
# a window depends on how far compilation got, not on the work in it.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        fields = _stat_fields_at(f"/proc/{pid}/task/{tid}/stat")
        if fields is not None and fields[0].startswith(JIT_THREADS):
            ticks += int(fields[12]) + int(fields[13])
    return ticks


def work_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own + reaped children) of the tree,
    less the time of the JVM's JIT compiler threads."""
    ticks = 0
    for pid, f in tree(root).items():
        ticks += sum(int(x) for x in f[12:16])
        if f[0] == "java":
            ticks -= _jit_ticks(pid)
    return ticks / _TICK


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own + reaped children) of the Python
    processes below the JVM -- the PySpark workers. The root process (the
    benchmark client itself) is excluded."""
    total = 0
    for pid, f in tree(root).items():
        if pid != root and f[0].startswith("python"):
            total += sum(int(x) for x in f[12:16])
    return total / _TICK


class PeakRss:
    """Samples the tree's RSS on a daemon thread and keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
