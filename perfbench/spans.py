"""Spans around the benchmark's calls into each engine module, their
self time, and the reduction of Spark's event log to counters per span.

A span is (id, name, parent, start, end, run id). While a span is
open, Spark jobs carry its id as their job group and description, so
the event log ties every job, stage, task and SQL execution back to
the innermost open span. Nothing inside the engine is instrumented.
"""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import json
import pathlib
import time


@dataclasses.dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, the event log's clock
    end: float = 0.0
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory. Inactive, ``span`` still yields a Span
    (so callers can set attributes) but records and labels nothing."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.active = False
        self.sc = None
        self.spans: list[Span] = []
        self.groups: dict[str, int] = {}  # job group id -> span id
        self._stack: list[Span] = []

    def group_id(self, span_id: int) -> str:
        return f"pb{self.run_id}-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield Span(0, name, None, self.run_id, 0.0, attrs=dict(attrs))
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans) + 1, name, parent, self.run_id, time.time(),
                  attrs=dict(attrs))
        self.spans.append(sp)
        self.groups[self.group_id(sp.id)] = sp.id
        self._stack.append(sp)
        self._label(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def alias(self, group: str, span: Span) -> None:
        """Attribute jobs of another group (a streaming query's run id,
        which Spark sets as the group of each micro-batch) to ``span``."""
        if self.active:
            self.groups[group] = span.id

    def _label(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            gid = self.group_id(sp.id)
            self.sc.setJobGroup(gid, f"{gid} {sp.name}")

    def write(self, path: pathlib.Path, counters: dict[int, SpanCounters]) -> None:
        selfs = self_times(self.spans)
        rows = []
        for s in self.spans:
            row = dataclasses.asdict(s)
            row["self_s"] = selfs[s.id]
            c = counters.get(s.id)
            if c is not None:
                row["spark"] = c.summary()
            rows.append(row)
        path.write_text(json.dumps(rows, indent=1, default=str))


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span time minus the part of it that child spans cover."""
    kids: dict[int, list[Span]] = collections.defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {
        s.id: s.wall - union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]
        )
        for s in spans
    }


def subtree(spans: list[Span], root: int) -> set[int]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out


# ------------------------------------------------------- event-log reduction

SCAN = "Scan parquet"
WRITE = "Execute InsertIntoHadoopFsRelationCommand"


@dataclasses.dataclass
class SpanCounters:
    """Spark's counters for the jobs one span submitted."""

    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    sql_intervals: list = dataclasses.field(default_factory=list)
    stage_task_ms: dict = dataclasses.field(default_factory=dict)
    # (plan node name, metric name, scan location) -> summed value
    sql: collections.Counter = dataclasses.field(default_factory=collections.Counter)

    def add(self, other: SpanCounters) -> SpanCounters:
        self.tasks += other.tasks
        self.executor_run_ms += other.executor_run_ms
        self.executor_cpu_ns += other.executor_cpu_ns
        self.gc_ms += other.gc_ms
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.sql_intervals.extend(other.sql_intervals)
        for stage, ms in other.stage_task_ms.items():
            self.stage_task_ms.setdefault(stage, []).extend(ms)
        self.sql.update(other.sql)
        return self

    def metric(self, node: str | None, name: str, location: str | None = None) -> float:
        """Sum of one SQL metric over plan nodes whose name starts with
        ``node`` (any node if None) and whose location holds ``location``."""
        return sum(
            v for (n, m, loc), v in self.sql.items()
            if m == name
            and (node is None or n.startswith(node))
            and (location is None or location in loc)
        )

    def skew(self) -> float:
        """max / median task time in the stage with the most task time."""
        if not self.stage_task_ms:
            return 0.0
        ms = max(self.stage_task_ms.values(), key=sum)
        s = sorted(ms)
        med = s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2
        return s[-1] / med if med > 0 else 0.0

    def summary(self) -> dict:
        return {
            "tasks": self.tasks,
            "executor_run_ms": self.executor_run_ms,
            "executor_cpu_ms": self.executor_cpu_ns / 1e6,
            "gc_ms": self.gc_ms,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "spill_bytes": self.spill_bytes,
            "sql_executions": len(self.sql_intervals),
        }


def merged(counters: dict[int, SpanCounters], ids) -> SpanCounters:
    out = SpanCounters()
    for sid in ids:
        if sid in counters:
            out.add(counters[sid])
    return out


def read_event_log(log_dir: pathlib.Path) -> list[dict]:
    events = []
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        if f.name.startswith("appstatus") or f.suffix == ".crc":
            continue
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_accums(node: dict, out: dict) -> None:
    loc = node.get("metadata", {}).get("Location", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"].strip(), m["name"], loc)
    for child in node.get("children", []):
        _plan_accums(child, out)


def reduce_event_log(events: list[dict], groups: dict[str, int]) -> dict[int, SpanCounters]:
    """Counters per span id. Jobs map to spans by job group; stages and
    tasks by their job; SQL executions by the span id their description
    starts with, else by the group of the jobs they ran; SQL metric
    accumulators by the plan node that declared them."""
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    exec_time: dict[int, list] = {}
    accum: dict[int, tuple] = {}
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sid = groups.get(props.get("spark.jobGroup.id"))
            if sid is None:
                continue
            for st in e.get("Stage IDs", []):
                stage_span[st] = sid
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_span.setdefault(int(ex), sid)
        elif kind == "SparkListenerSQLExecutionStart":
            ex = e["executionId"]
            gid = (e.get("description") or "").split(" ", 1)[0]
            if gid in groups:
                exec_span[ex] = groups[gid]
            exec_time[ex] = [e["time"] / 1000.0, None]
            _plan_accums(e["sparkPlanInfo"], accum)
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            _plan_accums(e["sparkPlanInfo"], accum)
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e.get("sqlPlanMetrics", []):
                accum.setdefault(m["accumulatorId"], ("", m["name"], ""))
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in exec_time:
                exec_time[e["executionId"]][1] = e["time"] / 1000.0

    out: dict[int, SpanCounters] = collections.defaultdict(SpanCounters)
    for ex, (start, end) in exec_time.items():
        sid = exec_span.get(ex)
        if sid is not None:
            out[sid].sql_intervals.append((start, end if end is not None else start))
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerDriverAccumUpdates":
            sid = exec_span.get(e["executionId"])
            if sid is None:
                continue
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in accum:
                    out[sid].sql[accum[acc_id]] += float(value)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            if sid is None:
                continue
            c = out[sid]
            info = e.get("Task Info") or {}
            tm = e.get("Task Metrics") or {}
            c.tasks += 1
            c.executor_run_ms += tm.get("Executor Run Time", 0)
            c.executor_cpu_ns += tm.get("Executor CPU Time", 0)
            c.gc_ms += tm.get("JVM GC Time", 0)
            c.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            if "Finish Time" in info and "Launch Time" in info:
                c.stage_task_ms.setdefault(e["Stage ID"], []).append(
                    info["Finish Time"] - info["Launch Time"])
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and a["ID"] in accum:
                    c.sql[accum[a["ID"]]] += float(a.get("Update", 0))
    return dict(out)
