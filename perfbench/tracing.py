"""Spans around calls into the library's layers, and the Spark event log
parsed into per-layer counters.

A span records (id, parent, trace id, layer, start, end). Spans live in
memory and are written out once, when the run ends. While a span is
open its id is the Spark job group, so every job, stage and task the
call starts can be attributed to it from the event log.

Self time of a span = its duration minus the part of its interval that
its child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    span_id: int
    parent: int | None
    trace: int
    layer: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.span_id: s.duration - covered(kids[s.span_id], s.start, s.end) for s in spans}


def layer_self_s(spans: list[Span]) -> dict[str, float]:
    """Total self time per layer."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.span_id]
    return dict(out)


class Tracer:
    """Records spans when enabled; otherwise every span is a no-op.

    ``sc`` (a SparkContext) is optional: with it, the open span's id is
    set as the job group so the event log attributes work to spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self._trace = 0
        self.sc = None

    def new_trace(self) -> None:
        """Spans opened from now on share a fresh trace id (one operation)."""
        self._trace += 1

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._set_group(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(Span(sid, parent, self._trace, layer, start, end))

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", f"span-{sid}")

    def layer_of(self) -> dict[str, str]:
        """job group id -> layer."""
        return {f"span-{s.span_id}": s.layer for s in self.spans}

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class TaskRecord:
    group: str | None
    stage: int
    cpu_s: float
    gc_s: float
    run_s: float
    input_records: int
    shuffle_write_bytes: int


@dataclass
class EventLog:
    tasks: list[TaskRecord]
    jobs_per_group: dict[str, int]
    plans_per_group: dict[str, list[str]]


def parse_event_log(paths: list[Path]) -> EventLog:
    """Tasks (with their job group), job counts and physical plans per
    job group, from uncompressed Spark event log files."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[str, int] = defaultdict(int)
    exec_group: dict[int, set] = defaultdict(set)
    exec_plan: dict[int, str] = {}
    tasks: list[TaskRecord] = []
    for path in paths:
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    if g is not None:
                        jobs[g] += 1
                        xid = props.get("spark.sql.execution.id")
                        if xid is not None:
                            exec_group[int(xid)].add(g)
                elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                    exec_plan[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
                elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate":
                    exec_plan[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sid = ev["Stage ID"]
                    inp = m.get("Input Metrics") or {}
                    shw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        TaskRecord(
                            group=stage_group.get(sid),
                            stage=sid,
                            cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                            gc_s=m.get("JVM GC Time", 0) / 1e3,
                            run_s=(info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
                            input_records=inp.get("Records Read", 0),
                            shuffle_write_bytes=shw.get("Shuffle Bytes Written", 0),
                        )
                    )
    plans: dict[str, list[str]] = defaultdict(list)
    for xid, groups in exec_group.items():
        for g in groups:
            plans[g].append(exec_plan.get(xid, ""))
    return EventLog(tasks, dict(jobs), dict(plans))


def by_layer(log: EventLog, layer_of: dict[str, str]) -> dict[str, dict]:
    """Per-layer counters: cpu_s, gc_s, input records, shuffle bytes
    written, task run times, jobs, and the physical plans run."""
    out: dict[str, dict] = defaultdict(
        lambda: {"cpu_s": 0.0, "gc_s": 0.0, "input_records": 0,
                 "shuffle_write_bytes": 0, "task_s": [], "jobs": 0, "plans": []}
    )
    for t in log.tasks:
        layer = layer_of.get(t.group)
        if layer is None:
            continue
        c = out[layer]
        c["cpu_s"] += t.cpu_s
        c["gc_s"] += t.gc_s
        c["input_records"] += t.input_records
        c["shuffle_write_bytes"] += t.shuffle_write_bytes
        c["task_s"].append(t.run_s)
    for g, n in log.jobs_per_group.items():
        layer = layer_of.get(g)
        if layer is not None:
            out[layer]["jobs"] += n
            out[layer]["plans"] += log.plans_per_group.get(g, [])
    return dict(out)
