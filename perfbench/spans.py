"""Layer tracing for the traced benchmark run.

Spans are recorded in memory around every call the benchmark makes into
an engine layer. While a span is open its Spark jobs carry the job group
``<span id>`` and the description ``workload/op/layer``, so the Spark event
log (enabled from the launch environment) attributes every job, task and
shuffle byte to the span that caused it. ``attribute`` joins the two after
the session stops and the log is complete.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: "int | None"
    op: int  # sid of the top-level span (the operation)
    cls: str  # read / write / job
    name: str  # <module>.<function>
    t0: float  # epoch ms
    t1: float = 0.0
    jobs: list = field(default_factory=list)  # (start_ms, end_ms, job_id)
    task_ms: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0

    @property
    def wall_s(self) -> float:
        return (self.t1 - self.t0) / 1000.0


class Tracer:
    """Span recorder. With ``sc=None`` it records nothing and costs one
    attribute test per call, which is the untraced configuration."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _label(self, span: Span) -> None:
        op = self.spans[span.op].name.rsplit(".", 1)[-1]
        self.sc.setJobGroup(str(span.sid), f"{self.workload}/{op}/{span.name}")

    @contextmanager
    def span(self, name: str, cls: str = ""):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = Span(
            sid=sid,
            parent=parent.sid if parent else None,
            op=parent.op if parent else sid,
            cls=cls or (parent.cls if parent else ""),
            name=name,
            t0=time.time() * 1000.0,
        )
        self.spans.append(span)
        self._stack.append(span)
        self._label(span)
        try:
            yield span
        finally:
            span.t1 = time.time() * 1000.0
            self._stack.pop()
            if self._stack:
                self._label(self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class EventLog:
    jobs: dict  # job id -> {start, end, group, desc, stages}
    stages: dict  # stage id -> {task_ms, tasks, shuffle, input, output}


def event_log_files(ev_dir: str) -> list[str]:
    """The event log files of the single application logged to ``ev_dir``
    (plain file, or Spark's rolling ``eventlog_v2_*`` directory)."""
    files = sorted(glob.glob(os.path.join(ev_dir, "eventlog_v2_*", "events_*")))
    return files or sorted(
        p for p in glob.glob(os.path.join(ev_dir, "*")) if os.path.isfile(p)
    )


def parse_event_log(lines) -> EventLog:
    """Job windows and per-stage task accounting from event-log JSON lines
    (the SparkListener events Spark writes with eventLog.enabled)."""
    jobs: dict = {}
    stages: dict = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "desc": props.get("spark.job.description"),
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = stages.setdefault(
                ev["Stage ID"],
                {"task_ms": 0, "tasks": 0, "shuffle": 0, "input": 0, "output": 0},
            )
            st["tasks"] += 1
            st["task_ms"] += m.get("Executor Run Time", 0)
            st["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return EventLog(jobs, stages)


def read_event_log(ev_dir: str) -> EventLog:
    lines: list[str] = []
    for path in event_log_files(ev_dir):
        with open(path) as fh:
            lines.extend(fh)
    return parse_event_log(lines)


def attribute(spans: list[Span], log: EventLog) -> None:
    """Charge every labelled job, with its stages' task accounting, to its
    span and to each of that span's ancestors."""
    for jid, job in log.jobs.items():
        group = job["group"]
        if group is None or not group.isdigit() or int(group) >= len(spans):
            continue
        end = job["end"] if job["end"] is not None else job["start"]
        acc = [log.stages.get(s) for s in job["stages"]]
        acc = [a for a in acc if a]
        span: "Span | None" = spans[int(group)]
        while span is not None:
            span.jobs.append((job["start"], end, jid))
            span.task_ms += sum(a["task_ms"] for a in acc)
            span.shuffle_bytes += sum(a["shuffle"] for a in acc)
            span.input_bytes += sum(a["input"] for a in acc)
            span.output_bytes += sum(a["output"] for a in acc)
            span = spans[span.parent] if span.parent is not None else None


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e, *_ in intervals):
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


def driver_gap_s(span: Span) -> float:
    """Span wall time not covered by any of its Spark jobs: planning,
    py4j round trips, driver-side Python and job submission."""
    return (span.t1 - span.t0 - union_ms(span.jobs, span.t0, span.t1)) / 1000.0


def self_s(span: Span, spans: list[Span]) -> float:
    """Span wall time not covered by its child spans."""
    kids = [(c.t0, c.t1) for c in spans if c.parent == span.sid]
    return (span.t1 - span.t0 - union_ms(kids, span.t0, span.t1)) / 1000.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def class_metrics(spans: list[Span], classes=("read", "write", "job")) -> dict:
    """Per operation class: median wall, task and driver-gap seconds and
    mean job count and shuffle MB per operation."""
    out = {}
    for cls in classes:
        ops = [s for s in spans if s.parent is None and s.cls == cls]
        out[f"{cls}.wall_s"] = _median([s.wall_s for s in ops])
        out[f"{cls}.jobs"] = _mean([len(s.jobs) for s in ops])
        out[f"{cls}.task_s"] = _median([s.task_ms / 1000.0 for s in ops])
        out[f"{cls}.driver_gap_s"] = _median([driver_gap_s(s) for s in ops])
        out[f"{cls}.shuffle_mb"] = _mean([s.shuffle_bytes / 1e6 for s in ops])
    return out


def layer_metrics(spans: list[Span]) -> dict:
    """``<module>.<function>.<measure>``, median per call, for every layer
    function the run called."""
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    out = {}
    for name, calls in sorted(by_name.items()):
        out[f"{name}.calls"] = len(calls)
        out[f"{name}.wall_s"] = _median([s.wall_s for s in calls])
        out[f"{name}.self_s"] = _median([self_s(s, spans) for s in calls])
        out[f"{name}.jobs"] = _median([len(s.jobs) for s in calls])
        out[f"{name}.task_s"] = _median([s.task_ms / 1000.0 for s in calls])
        out[f"{name}.driver_gap_s"] = _median([driver_gap_s(s) for s in calls])
        out[f"{name}.shuffle_mb"] = _median([s.shuffle_bytes / 1e6 for s in calls])
        out[f"{name}.input_mb"] = _median([s.input_bytes / 1e6 for s in calls])
    return out


def spark_per_op(spans: list[Span]) -> dict:
    """Spark accounting per top-level operation, all classes together."""
    ops = [s for s in spans if s.parent is None]
    return {
        "spark.jobs_per_op": _mean([len(s.jobs) for s in ops]),
        "spark.task_s_per_op": _mean([s.task_ms / 1000.0 for s in ops]),
        "spark.driver_gap_s_per_op": _mean([driver_gap_s(s) for s in ops]),
        "spark.shuffle_mb_per_op": _mean([s.shuffle_bytes / 1e6 for s in ops]),
        "io.input_mb_per_op": _mean([s.input_bytes / 1e6 for s in ops]),
    }
