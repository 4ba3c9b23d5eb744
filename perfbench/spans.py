"""Spans recorded around the benchmark's calls into the program, Spark job
accounting per operation, and the per-task figures of Spark's event log.

Spans stay in memory and are summarised when the run ends. A span holds
its name, start, end, parent and the id of the operation it belongs to.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    op: int
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], i: int) -> float:
    """Span ``i``'s duration minus the part of it its children cover."""
    s = spans[i]
    kids = sorted(
        (max(c.start, s.start), min(c.end, s.end))
        for c in spans if c.parent == i
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return s.duration - covered


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, enabled: bool, sc) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self.ops: dict[int, str] = {}  # op id -> kind
        self._stack: list[int] = []
        self._op: int | None = None
        self._next_op = 0

    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """One operation of the workload; its spark jobs carry its id as
        their job group, so jobs, stages and tasks are charged to it."""
        if not (self.enabled and traced):
            yield None
            return
        op_id = self._next_op
        self._next_op += 1
        self.ops[op_id] = kind
        self._op = op_id
        self.sc.setJobGroup(f"perfbench-op-{op_id}", kind)
        try:
            with self.span(kind):
                yield op_id
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self._op is None:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(self._op, name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_times(self, name: str) -> list[float]:
        return [self_time(self.spans, i) for i, s in enumerate(self.spans) if s.name == name]

    def job_counts(self) -> dict[int, tuple[int, int, int]]:
        """op id -> (jobs, stages, tasks) from Spark's status tracker."""
        out = {}
        st = self.sc.statusTracker()
        for op_id in self.ops:
            jobs = st.getJobIdsForGroup(f"perfbench-op-{op_id}")
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    si = st.getStageInfo(sid)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
            out[op_id] = (len(jobs), stages, tasks)
        return out


def event_log_per_op(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task run time, scheduler delay, shuffle write and input bytes per
    job group from an uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    per: dict[str, dict[str, float]] = {}
    paths = sorted(p for p in glob.glob(f"{log_dir}/**", recursive=True) if os.path.isfile(p))
    for path in paths:  # a single log file, or a rolling log's directory of parts
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    info = ev.get("Task Info") or {}
                    run = m.get("Executor Run Time", 0)
                    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    delay = wall - run - m.get("Executor Deserialize Time", 0) \
                        - m.get("Result Serialization Time", 0) \
                        - info.get("Getting Result Time", 0)
                    acc = per.setdefault(group, dict.fromkeys(
                        ("task_run_ms", "scheduler_delay_ms",
                         "shuffle_write_bytes", "input_bytes"), 0.0))
                    acc["task_run_ms"] += run
                    acc["scheduler_delay_ms"] += max(delay, 0)
                    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return per
