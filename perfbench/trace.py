"""In-memory tracing around the engine's public calls, plus the process
probes the benchmark reads: JVM GC time, resident memory from ``/proc``
and Spark task counts per job group.

Spans are recorded only while ``Tracer.enabled`` is set, so one process can
interleave traced and untraced operations; the difference between them is
the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time


class Tracer:
    def __init__(self):
        self.enabled = False
        self.jobs: JobGroups | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, count_tasks: bool = False):
        """Record ``name`` around the block; with ``count_tasks`` the block
        runs under its own Spark job group and the span keeps its task
        count."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
        }
        self._stack.append(rec["id"])
        try:
            if count_tasks:
                with self.jobs.group(name) as job:
                    yield rec
                rec["tasks"] = job["tasks"]
            else:
                yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def wrap(
        self, module, attr: str, name: str, count_tasks: bool = False
    ) -> None:
        """Replace ``module.attr`` with a spanning wrapper until
        ``unwrap_all``."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name, count_tasks):
                return original(*args, **kwargs)

        self._patches.append((module, attr, original))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, original = self._patches.pop()
            setattr(module, attr, original)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobGroups:
    """Counts the Spark tasks an operation ran, by running it under its
    own job group and reading ``statusTracker`` afterwards."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count()

    @contextlib.contextmanager
    def group(self, name: str):
        box = {"tasks": 0}
        gid = f"perfbench-{name}-{next(self._ids)}"
        self._sc.setJobGroup(gid, name)
        try:
            yield box
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            box["tasks"] = self.tasks(gid)

    def tasks(self, gid: str) -> int:
        tracker = self._sc.statusTracker()
        total = 0
        for job in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(stage)
                total += sinfo.numTasks if sinfo else 0
        return total


def median(values) -> float:
    """Median of ``values``; 0.0 when a traced loop produced none."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the driver, the
    JVM it launched and the JVM's Python workers)."""
    children = children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory. ``lap``
    closes one operation's window and keeps its peak in ``laps``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.laps: list[int] = []
        self._lap_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._lap_peak = max(self._lap_peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def lap(self) -> None:
        self._sample()
        with self._lock:
            self.laps.append(self._lap_peak)
            self._lap_peak = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False
