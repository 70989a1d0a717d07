"""Spans around the benchmark's calls into hllspark, and Spark's own operator
and stage metrics attached to the span of the action that produced them.

A span records name, start, end, parent and run id. Spans are kept in memory
and written once at exit. A span opened with ``spark=`` becomes the Spark job
group of the actions inside it; ``attach_spark_metrics`` later reads the status
stores once and maps their metrics back to the span by job group, so the
timed region pays only for setting the group. With tracing off every span is
a no-op.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_UNIT_SCALE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50, "EiB": 2**60,
    "ns": 1e-6, "ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000,
}
_NUMBER = re.compile(r"\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Value of a Spark SQL metric as the status store formats it, in bytes
    for sizes, milliseconds for timings and plain counts otherwise.

    Handles the plain forms (``'8,000,000'``, ``'82.2 MiB'``, ``'156 ms'``) and
    the per-task form ``'total (min, med, max (stageId: taskId))\\n13.4 s
    (3.2 s, ...)'``, whose total is the figure after the header line."""
    s = text.strip()
    if "\n" in s:
        s = s.split("\n", 1)[1]
    m = _NUMBER.match(s)
    if m is None:
        raise ValueError(f"not a Spark metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is not None:
        if unit not in _UNIT_SCALE:
            raise ValueError(f"unknown unit {unit!r} in {text!r}")
        value *= _UNIT_SCALE[unit]
    return value


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    job_group: bool = False
    spark: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id → its duration minus the part of its interval that its
    children cover (children may overlap each other)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_length([(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])])
        out[s.id] = (s.end - s.start) - covered
    return out


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes every span free of
    py4j calls, so untraced runs time the program alone."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, spark=None):
        if not self.enabled:
            yield None
            return
        self._next += 1
        sp = Span(f"{self.run_id}.{self._next}", name, self._stack[-1].id if self._stack else None,
                  self.run_id, time.time() * 1000)
        self._stack.append(sp)
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            sc.setJobGroup(sp.id, name)
            sp.job_group = True
        try:
            yield sp
        finally:
            sp.end = time.time() * 1000
            self._stack.pop()
            self.spans.append(sp)
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def attach_spark_metrics(self, spark) -> None:
        """Fill ``span.spark`` for every job-group span from the session's
        status stores; call before the session stops."""
        grouped = [s for s in self.spans if s.job_group and not s.spark]
        if grouped:
            reader = SparkMetrics(spark)
            for s in grouped:
                s.spark = reader.for_group(s.id, s.start, s.end)

    def dump(self, path) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = {"id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                       "start_ms": s.start, "end_ms": s.end, "self_ms": selfs[s.id], "spark": s.spark}
                f.write(json.dumps(rec) + "\n")


# operator metric name (status store) → layer counter; summed over operators
_OPERATOR_METRICS = {
    "Scan parquet": {"number of output rows": "scan.rows", "size of files read": "scan.bytes",
                     "scan time": "scan.time_ms"},
    "ObjectHashAggregate": {"time in aggregation build": "jvm_udaf.agg_build_ms",
                            "number of sort fallback tasks": "jvm_udaf.sort_fallback_tasks",
                            "spill size": "jvm_udaf.spill_bytes"},
    "Exchange": {"shuffle records written": "exchange.shuffle_records",
                 "shuffle bytes written": "exchange.shuffle_bytes",
                 "fetch wait time": "exchange.fetch_wait_ms"},
}
# Python-exec operators carry these whatever their node name
_PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_to_workers",
    "data returned from Python workers": "python.bytes_from_workers",
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
}


class SparkMetrics:
    """Reads the driver's status stores over py4j: the SQL store's per-operator
    metrics and the app store's stage and task data."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # SQL execution id → its job ids, read once
        self._executions = [
            (ex.executionId(), {int(j) for j in self._seq(ex.jobs().keys().toSeq())})
            for ex in self._seq(self._sql.executionsList())
        ]

    def _seq(self, scala_seq):
        return list(self._conv.asJava(scala_seq))

    def for_group(self, group: str, start_ms: float, end_ms: float) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        if not job_ids:
            return {}
        out: dict[str, float] = {"jobs": float(len(job_ids))}
        self._operators(job_ids, out)
        self._stages(job_ids, start_ms, end_ms, out)
        return out

    def _operators(self, job_ids: set, out: dict) -> None:
        sql = self._sql
        planned = empty = 0.0
        for ex_id, ex_jobs in self._executions:
            if not job_ids & ex_jobs:
                continue
            values = self._conv.asJava(sql.executionMetrics(ex_id))
            for node in self._seq(sql.planGraph(ex_id).allNodes()):
                name = node.name().strip()
                table = _OPERATOR_METRICS.get(name, {})
                for m in self._seq(node.metrics()):
                    raw = values.get(m.accumulatorId())
                    if raw is None:
                        continue
                    key = table.get(m.name()) or _PYTHON_METRICS.get(m.name())
                    if key is not None:
                        out[key] = out.get(key, 0.0) + parse_metric(raw)
                    elif name == "Exchange" and m.name() == "number of partitions":
                        planned += parse_metric(raw)
                    elif name == "AQEShuffleRead" and m.name() == "number of empty partitions":
                        empty += parse_metric(raw)
        if planned:
            out["exchange.planned_partitions"] = planned
            out["exchange.nonempty_partition_ratio"] = (planned - empty) / planned

    def _stages(self, job_ids: set, start_ms: float, end_ms: float, out: dict) -> None:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        intervals, widest, last = [], None, None
        run = gc = tasks = 0.0
        peak = 0.0
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            run += st.executorRunTime()
            gc += st.jvmGcTime()
            tasks += st.numTasks()
            if st.submissionTime().isDefined() and st.completionTime().isDefined():
                intervals.append((st.submissionTime().get().getTime(), st.completionTime().get().getTime()))
            durations = []
            for t in self._seq(store.taskList(sid, st.attemptId(), st.numTasks())):
                if t.duration().isDefined():
                    durations.append(float(t.duration().get()))
                if t.taskMetrics().isDefined():
                    peak = max(peak, float(t.taskMetrics().get().peakExecutionMemory()))
            if durations and (widest is None or len(durations) > len(widest)):
                widest = durations
            last = durations or last
        out.update({
            "stage.executor_run_ms": run, "stage.gc_ms": gc, "stage.tasks": tasks,
            "jvm_udaf.peak_exec_mem_bytes": peak,
            "driver.gap_ms": max(0.0, (end_ms - start_ms) - _union_length(
                [(max(lo, start_ms), min(hi, end_ms)) for lo, hi in intervals])),
        })
        if widest:
            out["stage.task_skew"] = max(widest) / statistics.median(widest)
        if last:
            out["stage.last_stage_max_task_ms"] = max(last)
