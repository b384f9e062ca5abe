"""Spans around each call into the program, and the traced run's layer numbers.

Every timed call is a span (name, layer, start, end, parent). With tagging on,
each span also sets a Spark job group, so the event log's task metrics can be
grouped by operation. Streaming micro-batches run under the query's own job
group; their jobs are assigned to the span whose interval holds their
submission time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",  # the default zstd codec needs a module that is absent
}

# task-metric totals kept per span: (name printed, unit, how to read it off a
# task-end event's metrics ``m`` and SQL-metric updates ``a``)
TASK_METRICS = (
    ("tasks.run_s", "s", lambda m, a: m["Executor Run Time"] / 1e3),
    ("tasks.cpu_s", "s", lambda m, a: m["Executor CPU Time"] / 1e9),
    ("jvm.gc_s", "s", lambda m, a: m["JVM GC Time"] / 1e3),
    ("io.input_bytes", "bytes", lambda m, a: m["Input Metrics"]["Bytes Read"]),
    ("shuffle.write_bytes", "bytes", lambda m, a: m["Shuffle Write Metrics"]["Shuffle Bytes Written"]),
    ("shuffle.spill_bytes", "bytes", lambda m, a: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]),
    ("shuffle.fetch_wait_s", "s", lambda m, a: m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3),
    ("python.bytes_to_worker", "bytes", lambda m, a: a["data sent to Python workers"]),
    ("python.bytes_from_worker", "bytes", lambda m, a: a["data returned from Python workers"]),
    ("python.run_s", "s", lambda m, a: a["time to run Python workers"] / 1e3),
)
PYTHON_SQL_METRICS = ("data sent to Python workers", "data returned from Python workers",
                      "time to run Python workers")


@dataclass
class Span:
    name: str
    layer: str
    parent: str
    start: float  # epoch seconds
    end: float = 0.0
    _t0: float = 0.0
    seconds: float = 0.0


class Tracer:
    """Records spans; with ``spark`` given, also tags each span's jobs."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []

    @contextmanager
    def span(self, op, parent: str):
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"op:{len(self.spans)}", f"{parent}/{op.layer}.{op.name}")
        s = Span(op.name, op.layer, parent, time.time(), _t0=time.perf_counter())
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - s._t0
            s.end = s.start + s.seconds
            self.spans.append(s)
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "layer": s.layer, "parent": s.parent,
                                    "start": s.start, "end": s.end}) + "\n")


def enable_event_log(spark_context_class, log_dir: str) -> None:
    """Make the next SparkContext write an uncompressed event log to
    ``log_dir``: a new SparkConf loads its defaults from the JVM's
    ``spark.*`` system properties."""
    system = spark_context_class._jvm.java.lang.System
    for key, value in {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + log_dir}.items():
        system.setProperty(key, value)


def disable_event_log(spark_context_class) -> None:
    system = spark_context_class._jvm.java.lang.System
    for key in (*EVENT_LOG_CONF, "spark.eventLog.dir"):
        system.clearProperty(key)


def span_task_totals(log_dir: str, spans: list[Span]) -> dict[int, dict[str, float]]:
    """Sum TASK_METRICS per span index from the event log(s) in ``log_dir``."""
    by_time = sorted(range(len(spans)), key=lambda i: spans[i].start)
    stage_span: dict[int, int] = {}
    totals: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")) + glob.glob(os.path.join(log_dir, "local-*")))
    for path in files:
        with open(path) as f:
            for line in f:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerJobStart":
                    group = (event.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith("op:"):
                        idx = int(group[3:])
                    else:
                        t = event["Submission Time"] / 1e3
                        idx = next((i for i in by_time if spans[i].start <= t <= spans[i].end), -1)
                    for stage in event["Stage IDs"]:
                        stage_span[stage] = idx
                elif kind == "SparkListenerTaskEnd":
                    idx = stage_span.get(event["Stage ID"], -1)
                    metrics = event.get("Task Metrics")
                    if idx < 0 or not metrics:
                        continue
                    acc = dict.fromkeys(PYTHON_SQL_METRICS, 0)
                    for a in event["Task Info"].get("Accumulables", []):
                        if a.get("Name") in acc:
                            acc[a["Name"]] += int(a["Update"])
                    for name, _unit, read in TASK_METRICS:
                        totals[idx][name] += read(metrics, acc)
    return totals


def streaming_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()
