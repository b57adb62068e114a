"""Span recording, Spark event-log folding and JVM counters for the traced run.

Spans are recorded from the benchmark's own files: :class:`Tracer`
patches the public functions a workload calls (and the names the
program imported them under) with wrappers that time the call, set a
Spark job group naming the span, and keep the span in memory. Nothing
is written until the run ends.

A layer's self time is its spans' duration minus the part covered by
their child spans, so the self times of one unit's span tree add up to
the unit's wall time.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "span-"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and sets no
    job group, so the same workload code runs traced and untraced."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.request_parent: int | None = None  # open client span, for handler threads
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        elif parent is None:
            parent = self.request_parent
        sid = next(self._ids)
        prev = None
        if self.sc is not None:
            prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                    self.sc.getLocalProperty("spark.job.description"))
            self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
            self.sc.setLocalProperty("spark.job.description", f"{layer}:{name}")
        stack.append(sid)
        sp = Span(sid, parent, layer, name, time.perf_counter(), 0.0)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if prev is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(sp)

    def patch(self, owner: object, attr: str, layer, name: str | None = None,
              after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``layer`` is a layer name or a function of the call's positional
        arguments; ``after(span, result, args)`` may add counters to the
        span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            lay = layer(args) if callable(layer) else layer
            with self.span(lay, name or attr) as sp:
                out = orig(*args, **kwargs)
                if after is not None and sp is not None:
                    after(sp, out, args)
                return out

        setattr(owner, attr, wrapped)

    # -- analysis -------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def self_times(self) -> dict[int, float]:
        """Self time of every span: its duration minus what its children cover."""
        kids = self.children()
        return {
            s.id: s.dur - covered_time([(c.start, c.end) for c in kids.get(s.id, [])],
                                       s.start, s.end)
            for s in self.spans
        }


def covered_time(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark event log --------------------------------------------------------

JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


@dataclass
class Job:
    group: str | None
    execution: int | None
    stages: list[int]
    submit_ms: int
    end_ms: int = 0


class EventLog:
    """Folds a Spark event log into per-job task totals and SQL metrics."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stage_totals: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.metric_names: dict[int, tuple[str, str]] = {}  # acc id -> (node, metric)
        self.acc_totals: dict[int, float] = defaultdict(float)
        self.acc_execution: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                self._fold(json.loads(line))

    def _register_plan(self, execution: int, info: dict) -> None:
        todo = [info]
        while todo:
            node = todo.pop()
            for m in node.get("metrics", []):
                self.metric_names[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
                self.acc_execution[m["accumulatorId"]] = execution
            todo.extend(node.get("children", []))

    def _fold(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = Job(
                props.get("spark.jobGroup.id"), int(ex) if ex is not None else None,
                list(ev.get("Stage IDs", [])), ev.get("Submission Time", 0),
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev.get("Completion Time", job.submit_ms)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            st = self.stage_totals[ev["Stage ID"]]
            st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    self.acc_totals[acc["ID"]] += float(acc["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._register_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in ev.get("sqlPlanMetrics", []):
                self.metric_names[m["accumulatorId"]] = ("", m["name"])
                self.acc_execution[m["accumulatorId"]] = ev["executionId"]
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                self.acc_totals[acc_id] += float(value)

    def jobs_of(self, span_ids: set[int]) -> list[Job]:
        groups = {f"{GROUP_PREFIX}{i}" for i in span_ids}
        return [j for j in self.jobs.values() if j.group in groups]

    def task_totals(self, jobs: list[Job]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for j in jobs:
            for sid in j.stages:
                for k, v in self.stage_totals.get(sid, {}).items():
                    out[k] += v
        return dict(out)

    def sql_metric(self, jobs: list[Job], metric: str, node_prefix: tuple[str, ...] = ("",),
                   reduce=sum) -> float:
        executions = {j.execution for j in jobs if j.execution is not None}
        vals = [
            self.acc_totals.get(acc, 0.0)
            for acc, (node, name) in self.metric_names.items()
            if name == metric and self.acc_execution.get(acc) in executions
            and node.startswith(node_prefix)
        ]
        return reduce(vals) if vals else 0.0


def job_time_ms(jobs: list[Job]) -> float:
    """Wall time covered by the given jobs (union of their intervals)."""
    iv = [(j.submit_ms, j.end_ms) for j in jobs if j.end_ms]
    if not iv:
        return 0.0
    return covered_time(iv, min(s for s, _ in iv), max(e for _, e in iv))


# -- JVM-side counters -------------------------------------------------------

def codegen_counters(spark) -> dict[str, float]:
    """Whole-JVM codegen totals from ``CodegenMetrics`` over py4j.

    Counts are exact; times and sizes are count x the histogram's
    reservoir mean, an estimate."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    comp, src = cm.METRIC_COMPILATION_TIME(), cm.METRIC_SOURCE_CODE_SIZE()
    return {
        "compiles": float(comp.getCount()),
        "compile_ms": comp.getCount() * comp.getSnapshot().getMean(),
        "source_bytes": src.getCount() * src.getSnapshot().getMean(),
    }


def jvm_peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]
