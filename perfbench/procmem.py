"""Peak resident memory of a process tree, sampled from ``/proc``.

The tree is this process (the Python driver), the Spark JVM it
launches and the Python workers the JVM forks. A background thread
sums the resident set of every live process in the tree at a fixed
interval and keeps the largest sum.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int, exclude: frozenset[int] = frozenset()) -> list[int]:
    """``root`` and every live process below it, leaving out the
    processes in ``exclude`` and everything below them."""
    kids = children_map()
    found, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        found.append(pid)
        todo.extend(kids.get(pid, ()))
    return found


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:  # exited
        return 0


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/comm", "rb") as fh:
            return "jvm" if fh.read().strip() == b"java" else "workers"
    except OSError:
        return "workers"


class PeakRss:
    """Context manager sampling the resident set of this process's tree.

    ``peak_bytes`` is the largest driver + JVM total seen. The Python
    workers are kept apart in ``peak_by_role`` (with ``driver`` and
    ``jvm``), as is ``max_workers``: how many workers Spark forks
    depends on task-launch races, so identical runs peak anywhere from
    one to three GiB in workers, which would drown any change the
    engine makes.

    Processes in ``exclude`` (the benchmark's own checker) are not
    counted, and no sample is taken while ``paused()``: the benchmark
    pauses while it hands results to its checker."""

    def __init__(self, exclude: frozenset[int] = frozenset(), interval_s: float = 0.2):
        self.exclude = exclude
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_role: dict[str, int] = {}
        self.max_workers = 0
        self.samples = 0
        self._stop = threading.Event()
        self._sampling = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            with self._sampling:
                self._sample(root)
            if self._stop.wait(self.interval_s):
                return

    def _sample(self, root: int) -> None:
        by_role: dict[str, int] = {"driver": 0, "jvm": 0, "workers": 0}
        workers = 0
        for pid in descendants(root, self.exclude):
            role = _role(pid, root)
            by_role[role] += _rss(pid)
            workers += role == "workers"
        self.max_workers = max(self.max_workers, workers)
        self.peak_bytes = max(self.peak_bytes, by_role["driver"] + by_role["jvm"])
        for role, size in by_role.items():
            self.peak_by_role[role] = max(self.peak_by_role.get(role, 0), size)
        self.samples += 1

    @contextmanager
    def paused(self):
        with self._sampling:
            yield

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
