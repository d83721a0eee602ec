"""Spans around the benchmark's calls into the library, and the per-layer
split of each span from Spark's event log.

A span is recorded around every public library call the benchmark makes:
name, start, end, parent and request id. Spans are kept in memory and
written out once, when the run ends.

In a traced run Spark writes its uncompressed event log (enabled through
``perfbench/conf/spark-defaults.conf``, which ``run.py`` points
``SPARK_CONF_DIR`` at). After the session stops, every job in the log is
attributed to the span whose interval contains the job's submission time.
The benchmark has one client thread, so its top-level spans never overlap,
and jobs that the library submits from its own thread pools land in the
span of the call that started them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the per-layer quantities reported for every span name
SPAN_FIELDS = ("wall_s", "driver_s", "jobs", "executor_cpu_s",
               "shuffle_bytes", "gc_ms")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with the event log's ms stamps
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    gc_ms: int = 0
    rows_out: int | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. ``gc_probe`` (set in traced runs) returns
    the JVM's cumulative GC milliseconds; it is sampled at span edges."""

    spans: list[Span] = field(default_factory=list)
    gc_probe: object = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        gc0 = self.gc_probe() if self.gc_probe else 0
        s = Span(name, time.time(), parent=parent, request=request)
        t0 = time.perf_counter()
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = s.start + (time.perf_counter() - t0)
            if self.gc_probe:
                s.gc_ms = self.gc_probe() - gc0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "request": s.request,
                    "gc_ms": s.gc_ms, "rows_out": s.rows_out}) + "\n")


def jvm_gc_ms(spark) -> int:
    """Cumulative GC time of the driver JVM (in local mode also the
    executor), summed over all collectors."""
    beans = (spark.sparkContext._jvm.java.lang.management
             .ManagementFactory.getGarbageCollectorMXBeans())
    total, it = 0, beans.iterator()
    while it.hasNext():
        total += it.next().getCollectionTime()
    return int(total)


@dataclass
class Job:
    submitted_ms: int
    completed_ms: int = 0
    stages: tuple = ()
    executor_cpu_ns: int = 0
    shuffle_bytes: int = 0
    records_read: int = 0


def read_event_logs(log_dir: str) -> list[Job]:
    """Parse every uncompressed event log in ``log_dir`` into jobs with
    their task metrics summed."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path) or os.path.basename(path).startswith("."):
            continue
        by_id: dict[int, Job] = {}
        stage_job: dict[int, Job] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Submission Time"],
                              stages=tuple(ev.get("Stage IDs", ())))
                    by_id[ev["Job ID"]] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd":
                    by_id[ev["Job ID"]].completed_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.executor_cpu_ns += m.get("Executor CPU Time", 0)
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    job.shuffle_bytes += (rd.get("Remote Bytes Read", 0)
                                          + rd.get("Local Bytes Read", 0)
                                          + wr.get("Shuffle Bytes Written", 0))
                    job.records_read += m.get("Input Metrics", {}).get(
                        "Records Read", 0)
        jobs.extend(by_id.values())
    return jobs


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def split_spans(spans: list[Span], jobs: list[Job]) -> list[dict]:
    """Per top-level span: wall, driver time (wall minus the union of its
    jobs' intervals, clipped to the span), job count, executor CPU,
    shuffle bytes, GC and input records read."""
    top = [s for s in spans if s.parent is None]
    owned: list[list[Job]] = [[] for _ in top]
    for job in jobs:
        sub = job.submitted_ms / 1000.0
        for i, s in enumerate(top):
            # the event log stamps whole milliseconds
            if s.start - 0.001 <= sub <= s.end + 0.001:
                owned[i].append(job)
                break
    out = []
    for s, js in zip(top, owned):
        busy = _union_s([(max(j.submitted_ms / 1000.0, s.start),
                          min((j.completed_ms or j.submitted_ms) / 1000.0,
                              s.end)) for j in js])
        out.append({
            "name": s.name, "request": s.request, "rows_out": s.rows_out,
            "wall_s": s.wall_s, "driver_s": max(s.wall_s - busy, 0.0),
            "jobs": len(js),
            "executor_cpu_s": sum(j.executor_cpu_ns for j in js) / 1e9,
            "shuffle_bytes": sum(j.shuffle_bytes for j in js),
            "gc_ms": s.gc_ms,
            "records_read": sum(j.records_read for j in js),
        })
    return out
