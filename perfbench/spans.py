"""Spans around calls into the program's layers, and a peak-RSS sampler.

Spans are recorded from the benchmark's side of each layer boundary: a
span names the layer, holds its start and end, its parent span and the
run id, and the number of Spark jobs launched inside it. Each span runs
under its own Spark job group, so the job count is read back from the
status tracker by group. Spans stay in memory until ``write``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    run: str
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; only traced passes open them."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(self.run_id, len(self.spans), name,
                 parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        group = f"{self.run_id}/{s.id}"
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}/{parent.id}",
                                    parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_seconds(self, span: Span) -> float:
        """Duration minus the time covered by direct children (children
        run one after another, so their intervals do not overlap)."""
        kids = sum(c.seconds for c in self.spans if c.parent == span.id)
        return span.seconds - kids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(asdict(s),
                                        self_s=self.self_seconds(s))) + "\n")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:  # the process ended between listing and reading
        return 0


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of every process below `root`: the driver JVM, the
    Python worker daemon and its workers."""
    return sum(_rss_bytes(p) for p in _descendants(root))


class PeakRss:
    """Samples `tree_rss_bytes` of this process's children every
    `interval` seconds between ``start`` and ``stop``. The sampler only
    reads /proc; it submits no work."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        root = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._halt.wait(self.interval)

    def start(self) -> None:
        self._halt.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._halt.set()
        self._thread.join()
