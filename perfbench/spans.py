"""Spans recorded around calls into the engine, and Spark event-log
attribution of task metrics to them.

A span is a name, a start, an end and the child spans it caused. The
benchmark opens one span per op and one child per layer call inside it
(build / plan / exec, or the five medallion stages); every child that can
launch Spark jobs carries a job group, set with ``SparkContext.setJobGroup``
for the span's duration.
After the run, ``attribute`` reads the event log and sums each task's
metrics into the group of the job (or stage) it ran for. Jobs with no
group, or with a group the benchmark did not set, are reported under
``UNATTRIBUTED`` rather than dropped.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

UNATTRIBUTED = "<unattributed>"

#: per-task counters summed per group: name -> (event-log key paths, scale)
TASK_COUNTERS = {
    "executor_run_s": ([("Executor Run Time",)], 1e-3),
    "executor_cpu_s": ([("Executor CPU Time",)], 1e-9),
    "jvm_gc_s": ([("JVM GC Time",)], 1e-3),
    "result_bytes": ([("Result Size",)], 1),
    "spill_bytes": ([("Memory Bytes Spilled",), ("Disk Bytes Spilled",)], 1),
    "shuffle_read_bytes": (
        [
            ("Shuffle Read Metrics", "Remote Bytes Read"),
            ("Shuffle Read Metrics", "Local Bytes Read"),
        ],
        1,
    ),
    "shuffle_write_bytes": ([("Shuffle Write Metrics", "Shuffle Bytes Written")], 1),
    "input_bytes": ([("Input Metrics", "Bytes Read")], 1),
    "output_bytes": ([("Output Metrics", "Bytes Written")], 1),
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    children: list["Span"] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover (children
        may overlap each other; their union is subtracted once)."""
        covered, last = 0.0, self.start
        for c in sorted(self.children, key=lambda c: c.start):
            lo, hi = max(c.start, last, self.start), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return self.duration - covered


class Tracer:
    """Keeps spans in memory; ``sc`` (a SparkContext) is optional so the
    span arithmetic can be tested without Spark."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.roots: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.clock(), group=group)
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            if group is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.end = self.clock()
            self._stack.pop()

    def dump(self, path: str) -> None:
        def enc(s: Span) -> dict:
            return {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": s.self_time,
                "group": s.group,
                "counts": s.counts,
                "children": [enc(c) for c in s.children],
            }

        with open(path, "w") as f:
            json.dump([enc(r) for r in self.roots], f)


def _task_value(metrics: dict, paths, scale: float) -> float:
    total = 0.0
    for path in paths:
        v = metrics
        for k in path:
            v = v.get(k, 0) if isinstance(v, dict) else 0
        total += float(v or 0)
    return total * scale


def _props(event: dict) -> dict:
    return event.get("Properties") or {}


def attribute(events, known_groups: set[str]) -> dict[str, dict[str, float]]:
    """Sum task metrics and job/stage/task counts per job group.

    ``events`` is an iterable of parsed event-log records. A stage takes
    its group from its own submission properties, else from the first job
    that listed it. Groups not in ``known_groups`` fold into UNATTRIBUTED.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def group_of(props: dict) -> str:
        g = props.get("spark.jobGroup.id")
        return g if g in known_groups else UNATTRIBUTED

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = group_of(_props(ev))
            out[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            props = _props(ev)
            if "spark.jobGroup.id" in props:
                stage_group[sid] = group_of(props)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, UNATTRIBUTED)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"], UNATTRIBUTED)
            out[g]["tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for name, (paths, scale) in TASK_COUNTERS.items():
                out[g][name] += _task_value(metrics, paths, scale)
    return {g: dict(v) for g, v in out.items()}


def read_event_log(log_dir: str):
    """Yield the records of every event-log file under ``log_dir`` (one
    file per application with rolling off; checksums skipped)."""
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)
