"""Spans around the calls the benchmark makes into each layer, and the
Spark counters attributed to them.

A span records (name, start, end, parent, op id). Spans stay in memory
and are written out once, when the run ends. Every span also tags the
Spark jobs started inside it: entering a span sets a job group named
after the span, leaving restores the parent's, so each job belongs to
the innermost span that started it. After the traced pass, the stage
data of Spark's REST API is summed per span.

``NullTracer`` has the same interface and records nothing; untraced
runs use it, so the timed code is the same in both kinds of run.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    @contextmanager
    def span(self, name: str, op: int = -1):
        yield

    def rebind(self, spark) -> None:
        """Attach to the SparkSession once it exists."""


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _group(self, sid: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"bspan-{sid}", self.spans[sid].name)

    @contextmanager
    def span(self, name: str, op: int = -1):
        parent = self._stack[-1] if self._stack else -1
        if op < 0 and parent >= 0:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, 0.0, parent=parent, op=op)
        self.spans.append(s)
        if parent >= 0:
            self.spans[parent].children.append(s.sid)
        self._stack.append(s.sid)
        self._group(s.sid)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def rebind(self, spark) -> None:
        self.spark = spark

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return s.dur - sum(self.spans[c].dur for c in s.children)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- Spark counters ------------------------------------------------------

_STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numCompleteTasks": "tasks",
}


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def group_counters(spark) -> dict[str, dict[str, float]]:
    """Spark counters per job group of the current application: jobs,
    completed stages and the stage metrics of ``_STAGE_FIELDS``."""
    from ballista_extensions_spark.plans.metrics import _drain_listener_bus

    _drain_listener_bus(spark)
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    n_stages: dict[int, int] = defaultdict(int)
    for st in _rest(spark, "stages"):
        if st.get("status") != "COMPLETE":
            continue
        n_stages[st["stageId"]] += 1
        for src, dst in _STAGE_FIELDS.items():
            stages[st["stageId"]][dst] += st.get(src, 0)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    seen: set[int] = set()
    # a stage reused by a later job is listed by it as skipped: count
    # each stage once, for the first job that ran it
    for job in sorted(_rest(spark, "jobs"), key=lambda j: j["jobId"]):
        g = out[job.get("jobGroup") or ""]
        g["jobs"] += 1
        for sid in job.get("stageIds", []):
            if sid in seen:
                continue
            seen.add(sid)
            g["stages"] += n_stages.get(sid, 0)
            for k, v in stages.get(sid, {}).items():
                g[k] += v
    return out


def attribute(tracer: Tracer, counters: dict[str, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Counters per span id (jobs started inside the span itself)."""
    return {
        s.sid: dict(counters[f"bspan-{s.sid}"])
        for s in tracer.spans
        if f"bspan-{s.sid}" in counters
    }


def per_op(tracer: Tracer, ops: list[int], value) -> float:
    """Median over ``ops`` of ``value(spans of that op)``."""
    by_op: dict[int, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        by_op[s.op].append(s)
    return statistics.median(value(by_op[o]) for o in ops) if ops else 0.0
