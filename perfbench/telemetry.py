"""Traced-run telemetry, read from outside the program.

* ``Tracer`` records one span per call the benchmark makes into a
  layer of the program (workload -> pass -> op -> layer call). With
  tracing on, each layer call runs under its own Spark job group, so
  the event log can attribute jobs, stages and task metrics to it.
* ``read_event_log`` parses Spark's uncompressed JSON event log into
  one record per job.
* ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress record (phase durations, state operators).
* ``udf_seconds`` sums the Python UDF profiler's per-UDF totals.

Nothing here changes what the program computes; with tracing off the
tracer only timestamps calls.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans in memory, written into the run record when the run ends.
    ``traced`` turns on the job group per layer call; spans are kept
    either way, and cost only two clock reads each."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, name, layer, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.traced and layer is not None:
            sp.group = f"perfbench-{sp.id}"
            self.spark.sparkContext.setJobGroup(sp.group, f"{layer} {name}")
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sp.group is not None:
                outer = next((s.group for s in reversed(self._stack) if s.group), None)
                self.spark.sparkContext.setJobGroup(outer or "perfbench-idle", "")

    def call(self, layer: str, fn, *args, **kwargs):
        """Run one call into a program layer under its own span."""
        with self.span(getattr(fn, "__name__", layer), layer):
            return fn(*args, **kwargs)


@dataclass
class Job:
    """What Spark ran for one job: its job group, its interval (epoch
    seconds), and its completed stages and tasks with their summed
    task metrics."""

    group: str | None
    start: float
    end: float = 0.0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Every completed job, from the uncompressed rolling event log
    (``eventlog_v2_*/events_<n>_*`` files) under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = Job(gid, ev["Submission Time"] / 1000.0)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.tasks += 1
                    job.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    job.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j.end]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamProgress(StreamingQueryListener):
    """Keeps one record per micro-batch of every streaming query."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append({
            "start": _epoch(p.timestamp),
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })


def udf_seconds(spark, dump_dir: str) -> float:
    """Total time the Python UDF profiler recorded since the last
    ``spark.profile.clear()``, summed over UDFs."""
    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        total += pstats.Stats(path).total_tt
        os.remove(path)
    return total
