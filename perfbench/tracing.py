"""Spans recorded from the benchmark's own files, and Spark's event log
folded into per-span task and SQL metrics.

A ``Tracer`` wraps calls into the package's public functions (by
patching the names the package looks up) and tags every Spark job a
span starts with ``setJobGroup(<span id>)``.  Spans stay in memory as
(name, start, end, parent, run id) and are written out at the end.
``EventLog`` reads the event log of the traced session and sums task
metrics and per-operator SQL metrics per job group, so a span's Spark
work is the work of the jobs tagged with its id or a descendant's.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterator, List, Optional, Tuple


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    parent: Optional[int]
    run_id: str

    @property
    def group(self) -> str:
        return f"pb{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise every method is a no-op,
    so the timed runs carry no tracing code on their path."""

    def __init__(self, run_id: str):
        self.sc = None
        self.run_id = run_id
        self.enabled = False
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._patches: List[Tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0,
                 parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def start(self, spark, targets: List[Tuple[object, str, str]]) -> None:
        """Turn tracing on and wrap each ``(owner, attribute, span name)``."""
        self.sc = spark.sparkContext
        self.enabled = True
        for owner, attr, name in targets:
            self._wrap(owner, attr, name)

    def stop(self) -> None:
        """Turn tracing off and restore every wrapped attribute."""
        self.enabled = False
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def _wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    # -- queries over the recorded spans ----------------------------------------

    def children(self, span: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> List[Span]:
        out = [span]
        for child in self.children(span):
            out.extend(self.subtree(child))
        return out

    def self_seconds(self, span: Span) -> float:
        return span.seconds - sum(c.seconds for c in self.children(span))

    def named(self, name: str, within: Optional[Span] = None) -> List[Span]:
        pool = self.subtree(within) if within else self.spans
        return [s for s in pool if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# -- event log -------------------------------------------------------------------

# task metric -> (path in a TaskEnd event's "Task Metrics", scale to s or B)
_TASK_METRICS = {
    "executor_run_s": (("Executor Run Time",), 1e-3),
    "executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "spill_bytes": (("Disk Bytes Spilled",), 1.0),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1.0),
    "shuffle_fetch_wait_s": (("Shuffle Read Metrics", "Fetch Wait Time"), 1e-3),
}


@dataclass
class GroupStats:
    """Spark work of the jobs tagged with one job group."""

    jobs: List[Tuple[float, float]] = field(default_factory=list)  # (start, end) s
    tasks: int = 0
    task: Dict[str, float] = field(default_factory=dict)
    sql: Dict[Tuple[str, str], float] = field(default_factory=dict)  # (node, metric)
    executions: List[int] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        self.jobs.extend(other.jobs)
        self.tasks += other.tasks
        for k, v in other.task.items():
            self.task[k] = self.task.get(k, 0.0) + v
        for k, v in other.sql.items():
            self.sql[k] = self.sql.get(k, 0.0) + v
        self.executions.extend(other.executions)

    def job_seconds(self) -> float:
        """Wall time covered by at least one job (overlaps counted once)."""
        total, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.jobs):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def sql_sum(self, node: str, metric: str) -> float:
        """Sum of a SQL metric over operators whose name starts with
        ``node``, in the metric's base unit (seconds for timings)."""
        return sum(v for (n, m), v in self.sql.items()
                   if n.startswith(node) and m == metric)


def _plan_metrics(plan: dict, out: Dict[int, Tuple[str, str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _plan_nodes(plan: dict) -> Iterator[str]:
    yield plan["nodeName"]
    for child in plan.get("children", []):
        yield from _plan_nodes(child)


_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class EventLog:
    """Per-job-group totals from one application's event log."""

    def __init__(self, path: str):
        self.groups: Dict[str, GroupStats] = {}
        self.plans: Dict[int, dict] = {}  # execution id -> latest plan
        accum: Dict[int, Tuple[str, str, str]] = {}
        stage_group: Dict[Tuple[int, int], str] = {}
        job_group: Dict[int, str] = {}
        job_start: Dict[int, float] = {}
        exec_group: Dict[int, str] = {}
        driver_updates: List[Tuple[int, int, float]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                        ex = props.get("spark.sql.execution.id")
                        if ex is not None:
                            exec_group.setdefault(int(ex), group)
                elif kind == "SparkListenerJobEnd":
                    group = job_group.get(ev["Job ID"])
                    if group:
                        self._group(group).jobs.append(
                            (job_start[ev["Job ID"]], ev["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    info = ev["Stage Info"]
                    if group:
                        stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if group:
                        self._task(self._group(group), ev, accum)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plan = ev["sparkPlanInfo"]
                    self.plans[ev["executionId"]] = plan
                    _plan_metrics(plan, accum)
                elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                    for m in ev["sqlPlanMetrics"]:
                        accum.setdefault(
                            m["accumulatorId"], ("", m["name"], m["metricType"])
                        )
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        driver_updates.append((ev["executionId"], acc_id, value))
        for ex, acc_id, value in driver_updates:
            group = exec_group.get(ex)
            if group and acc_id in accum:
                self._sql(self._group(group), accum[acc_id], value)
        for ex, group in exec_group.items():
            self._group(group).executions.append(ex)

    def _group(self, name: str) -> GroupStats:
        return self.groups.setdefault(name, GroupStats())

    @staticmethod
    def _sql(stats: GroupStats, meta: Tuple[str, str, str], value) -> None:
        node, metric, mtype = meta
        key = (node, metric)
        stats.sql[key] = stats.sql.get(key, 0.0) + float(value) * _UNIT_SCALE.get(mtype, 1.0)

    def _task(self, stats: GroupStats, ev: dict, accum) -> None:
        stats.tasks += 1
        for key, (path, scale) in _TASK_METRICS.items():
            value = ev.get("Task Metrics") or {}
            for name in path:
                value = value.get(name, 0) if isinstance(value, dict) else 0
            stats.task[key] = stats.task.get(key, 0.0) + value * scale
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            meta = accum.get(acc.get("ID"))
            if meta is not None:
                self._sql(stats, meta, acc.get("Update", 0))

    def stats(self, spans) -> GroupStats:
        """Totals over the jobs of the given spans."""
        out = GroupStats()
        for s in spans:
            g = self.groups.get(s.group)
            if g is not None:
                out.add(g)
        return out

    def plan_nodes(self, executions) -> List[str]:
        return [n for ex in executions if ex in self.plans for n in _plan_nodes(self.plans[ex])]


def find_event_log(directory: str) -> str:
    logs = [os.path.join(directory, f) for f in os.listdir(directory)
            if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {logs}")
    return logs[0]


def span_summary(tracer: Tracer, log: EventLog) -> List[dict]:
    """One row per span name: calls, total wall, self time, Spark job
    time of its own jobs — written next to the spans for reading."""
    rows: Dict[str, dict] = {}
    for s in tracer.spans:
        r = rows.setdefault(s.name, {"span": s.name, "calls": 0, "wall_s": 0.0,
                                     "self_s": 0.0, "own_jobs": 0, "own_job_s": 0.0})
        r["calls"] += 1
        r["wall_s"] += s.seconds
        r["self_s"] += tracer.self_seconds(s)
        g = log.groups.get(s.group)
        if g is not None:
            r["own_jobs"] += len(g.jobs)
            r["own_job_s"] += g.job_seconds()
    return list(rows.values())


