"""Measurement plumbing shared by the workloads: sample statistics, a span
tracer with Spark job/stage/task counts, a process-tree RSS sampler, JVM
management-bean readings and process shutdown.

Nothing here reaches into the engine: the tracer wraps calls made from the
benchmark's own code and reads counts from ``SparkContext.statusTracker``.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

TAIL_PCT = 90


def median(values):
    return statistics.median(values) if values else 0.0


def tail(samples):
    """``(value, percentile, n, beyond)``: the nearest-rank ``TAIL_PCT``
    percentile of ``samples`` and how many samples lie above it.

    A run makes only a few dozen calls, so a percentile with ten samples
    above it would sit at or below the median; p90 lands on the slowest
    calls of the workload's slowest query in every run. The number of
    samples above it is reported with it."""
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(TAIL_PCT / 100 * n))
    return xs[rank - 1], TAIL_PCT, n, n - rank


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder. Disabled tracers cost one branch per call.

    Each span records name, start, end, parent and, when a SparkContext is
    attached, the number of Spark jobs, stages and tasks launched under the
    span's job group.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str, count_jobs: bool = True):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        group = None
        if count_jobs and self._sc is not None:
            group = f"perfbench-span-{idx}"
            rec["group"] = group
            self._sc.setJobGroup(group, name)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                rec.update(self._job_counts(group))
                parent = self._stack[-1] if self._stack else None
                if parent is not None and self.spans[parent].get("group"):
                    self._sc.setJobGroup(self.spans[parent]["group"],
                                         self.spans[parent]["name"])
                else:
                    self._sc._jsc.clearJobGroup()

    def _job_counts(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        jobs = stages = tasks = 0
        for job_id in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                stages += 1
                sinfo = tracker.getStageInfo(stage_id)
                tasks += sinfo.numTasks if sinfo else 0
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def counts(self, name: str, key: str) -> list[int]:
        return [s.get(key, 0) for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# process tree memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the summed RSS of this process and all its
    descendants (the driver JVM and its Python workers), every
    ``INTERVAL_S`` seconds; the process tree is re-read every
    ``TREE_EVERY`` samples.

    ``peak`` is the highest rolling median of ``WINDOW`` consecutive
    samples: the peak the tree sustains for about half a second, which a
    forking worker or a momentary spike cannot set on its own."""

    INTERVAL_S, TREE_EVERY, WINDOW = 0.1, 5, 5

    def __init__(self):
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = None

    @property
    def peak(self) -> int:
        xs, w = self.samples, min(self.WINDOW, len(self.samples))
        if not xs:
            return 0
        return max(statistics.median(xs[i:i + w])
                   for i in range(len(xs) - w + 1))

    def _run(self) -> None:
        pids, i = [], 0
        while not self._stop.is_set():
            if i % self.TREE_EVERY == 0:
                pids = process_tree(os.getpid())
            self.samples.append(_rss_bytes(pids))
            i += 1
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# JVM management beans
# ---------------------------------------------------------------------------

class JvmBeans:
    """GC time and heap-pool peak usage read through the Py4J gateway."""

    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_seconds(self) -> float:
        return sum(max(0, b.getCollectionTime())
                   for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans()
                if p.getType().toString() == "Heap memory"]

    def reset_peaks(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed()
                   for p in self._heap_pools()) / 2 ** 20


# ---------------------------------------------------------------------------
# shutdown
# ---------------------------------------------------------------------------

def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this one started (the JVM and the Python workers it forked) has
    exited, killing any that outlive the timeout."""
    import signal

    from pyspark import SparkContext

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()   # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except Exception:  # noqa: BLE001 - escalate to a kill
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            if time.monotonic() > deadline + 5:
                return
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"
