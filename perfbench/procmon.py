"""Process-tree CPU and memory sampler over ``/proc`` (stdlib only).

The tree is this process plus every descendant: the Spark JVM that
PySpark launches, the Python worker daemon it forks, and the workers
the daemon forks in turn. A background thread walks the tree at a
fixed interval and keeps, per pid, the first and the latest
user+system CPU ticks it saw, and the largest summed resident memory
across all samples. CPU of a process that exits between two samples
is counted up to its last sample.

Resident memory is summed as PSS (``/proc/<pid>/smaps_rollup``): each
shared page counts once across the tree, split between the processes
that map it. Plain RSS would count the pages forked workers share with
their daemon once per worker, and a short-lived child the JVM forks
would briefly double the JVM's whole heap.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, utime+stime ticks) of one live pid, or None once it has
    exited (zombies included)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parens: split after the
    # last ')'; fields then start at field 3 (state)
    rest = raw[raw.rfind(b")") + 2:].split()
    if rest[0] in (b"Z", b"X"):
        return None
    return int(rest[1]), int(rest[11]) + int(rest[12])


def alive(pids) -> list[int]:
    """The pids in ``pids`` that have not exited."""
    return [p for p in pids if _stat(p) is not None]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _pss(pid: int) -> int:
    """Proportional resident set of one pid in bytes (0 once exited)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pids(root: int) -> dict[int, int]:
    """pid -> cpu ticks for ``root`` and its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1]
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Sample the tree of ``root`` every ``interval`` seconds between
    ``start()`` and ``stop()``. ``cpu_s`` is the CPU time the tree
    spent in that window. ``peak_bytes`` holds the largest summed PSS
    seen for the whole tree ('tree'), for the Python processes — the
    driver and its workers — ('python') and for the JVM ('java')."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self._first: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self.peak_bytes = dict(tree=0, python=0, java=0)
        self._comms: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self, first: bool = False) -> None:
        pids = tree_pids(self.root)
        for pid, ticks in pids.items():
            # a pid first seen after start() began inside the window
            self._first.setdefault(pid, ticks if first else 0)
            self._last[pid] = ticks
        sums = dict(tree=0, python=0, java=0)
        for pid in pids:
            if pid not in self._comms:
                self._comms[pid] = _comm(pid)
            comm = self._comms[pid]
            mem = _pss(pid)
            sums["tree"] += mem
            if comm.startswith("python"):
                sums["python"] += mem
            elif comm == "java":
                sums["java"] += mem
        for k, v in sums.items():
            self.peak_bytes[k] = max(self.peak_bytes[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "TreeSampler":
        self._sample(first=True)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> "TreeSampler":
        self._stop.set()
        self._thread.join()
        self._sample()
        return self

    @property
    def cpu_s(self) -> float:
        return sum(self._last[p] - self._first[p] for p in self._last) / _TICK
