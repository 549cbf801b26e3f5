"""Measurement from outside the program: spans around the benchmark's own
calls into each layer, Spark's own job/stage/task counters, process
memory, JVM GC time and a pure-JVM host control."""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    span_id: int
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Tracer:
    """Spans kept in memory and written out when the run ends. With
    ``enabled`` false every call is a no-op apart from the clock reads."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def span(self, name: str, op: str = ""):
        """Time a block; when tracing, also count the Spark jobs, stages
        and tasks it ran (through a job group named after the span)."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        rec = Span(name, time.perf_counter(), 0.0, parent, op, sid)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            rec.jobs, rec.stages, rec.tasks = job_counts(self.spark, group)
            # child spans ran in their own groups: add them in
            for s in self.spans:
                if s.parent == sid:
                    rec.jobs += s.jobs
                    rec.stages += s.stages
                    rec.tasks += s.tasks
            self.spans.append(rec)
            # restore the caller's group (a stream thread runs in its query's)
            sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        covered = sum(s.end - s.start for s in self.spans if s.parent == span.span_id)
        return (span.end - span.start) - covered

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.span_id, "parent": s.parent, "name": s.name, "op": s.op,
                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                    "self_s": round(self.self_time(s), 6),
                    "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                }) + "\n")


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under a job group, from the status
    tracker. Stages skipped because their shuffle output was reused are
    not counted."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return len(jobs), stages, tasks


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def process_tree(pid: int | None = None) -> list[int]:
    pid = pid or os.getpid()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over this process and every
    process it started (the JVM, any Python workers)."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far, from JMX."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def host_control(spark, n: int = 20_000_000, reps: int = 3) -> float:
    """Median wall time of a pure-JVM ``spark.range`` sum over every core:
    no program code runs, so it records how fast the host is right now."""
    parts = spark.sparkContext.defaultParallelism
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(0, n, numPartitions=parts).selectExpr("sum(id)").collect()
        times.append(time.perf_counter() - t)
    return sorted(times)[len(times) // 2]


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
