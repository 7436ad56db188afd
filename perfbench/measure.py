"""Timing, spans and host/JVM counters for the benchmark.

Everything here observes the package from outside: spans wrap the
benchmark's own calls into it, scheduler counts come from Spark's
status tracker (one job group per operation), JVM figures from its
management beans, resident memory from ``/proc``.
"""

from __future__ import annotations

import math
import statistics
import threading
import time
from contextlib import contextmanager


def median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def latency_summary(values_ms) -> dict:
    """Median, sample count, and the highest of p99/p95/p90/p75/p50 that
    has at least ten samples beyond it (nearest rank; absent under 20)."""
    xs = sorted(values_ms)
    n = len(xs)
    out = {"n": n, "p50": median(xs) if xs else None}
    for pct in (99, 95, 90, 75, 50):
        if n * (100 - pct) / 100 >= 10:
            out[f"p{pct}"] = float(xs[max(0, math.ceil(n * pct / 100) - 1)])
            break
    return out


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id, ok).

    A span's name is the package function the benchmark called, with a
    ``.plan`` suffix for the call that returns a lazy DataFrame and
    ``.exec`` for the action that delivers its rows. Disabled, ``span``
    only runs the body, so untraced runs pay nothing per call.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.cost_s = 0.0  # time spent recording, the tracer's own overhead
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, int | None]]:
        """This thread's open spans: (index, op id)."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (-1, None)
        if op is None:
            op = parent_op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(None)
        stack.append((idx, op))
        ok = False
        start = time.perf_counter()
        self.cost_s += start - c0
        try:
            yield
            ok = True
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[idx] = (name, start, end, parent, op, ok)
            self.cost_s += time.perf_counter() - end

    def by_name(self) -> dict[str, list[tuple]]:
        out: dict[str, list[tuple]] = {}
        for s in self.spans:
            if s:
                out.setdefault(s[0], []).append(s)
        return out

    def self_ms_roots(self) -> list[float]:
        """Per operation span (``op.*``): its duration minus the time its
        direct children, the layer calls, cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s and s[3] >= 0:
                covered[s[3]] = covered.get(s[3], 0.0) + (s[2] - s[1])
        return [
            (s[2] - s[1] - covered.get(i, 0.0)) * 1e3
            for i, s in enumerate(self.spans)
            if s and s[0].startswith("op.")
        ]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                if s:
                    name, start, end, parent, op, ok = s
                    f.write(json.dumps({
                        "id": i, "name": name, "start": start, "end": end,
                        "parent": parent, "op": op, "ok": ok,
                    }) + "\n")


class JobCounter:
    """Spark jobs, stages and tasks per operation, read from the status
    tracker by job group. Only used in traced runs: tagging and reading
    cost a few gateway calls per operation."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.per_op: list[tuple[str, int, int, int]] = []  # kind, jobs, stages, tasks
        self._lock = threading.Lock()

    @contextmanager
    def group(self, tag: str, kind: str):
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(tag, tag)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            counts = self.count(tag)
            with self._lock:
                self.per_op.append((kind, *counts))

    def count(self, tag: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for j in st.getJobIdsForGroup(tag):
            info = st.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return jobs, stages, tasks


class Jvm:
    """Driver JVM garbage-collection time and heap peak."""

    def __init__(self, spark):
        self.mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(spark._jvm.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        return float(sum(g.getCollectionTime() for g in self.mf.getGarbageCollectorMXBeans()))

    def _heap_pools(self):
        heap = self.mf.getMemoryPoolMXBeans()
        return [p for p in heap if str(p.getType()) == "Heap memory"]

    def reset_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    def retained_mb(self) -> float:
        """Heap live after a full collection plus non-heap in use."""
        mem = self.mf.getMemoryMXBean()
        mem.gc()
        return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def rss_mb(pids, field: str = "VmHWM") -> float:
    """Sum over processes of a /proc memory field: VmHWM is the peak
    resident set size, VmRSS the current one."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def host_probe(spark) -> float:
    """A fixed synthetic Catalyst job that reads no input: its time
    moves with the host, not with the package's code."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(10_000_000)
        .select((F.col("id") * 2654435761 % 8192).alias("k"), (F.col("id") % 97).alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.avg("v").alias("a"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0
