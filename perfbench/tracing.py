"""Measurement helpers: span recording, percentiles, Spark job counts
and resident memory.

Spans are recorded only in a traced run; with tracing off every
``span`` is a no-op context manager, so the untraced run pays one
attribute test per layer call.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile; 0.0 for an empty list (an idle
    layer on this workload)."""
    return float(np.percentile(values, q)) if values else 0.0


def mean(values: list[float]) -> float:
    return float(np.mean(values)) if values else 0.0


class Tracer:
    """In-memory span recorder: name, start, end, parent span and the
    operation id the span belongs to. Written out once, at exit."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._open: list[int] = []
        self._next_id = 0

    @property
    def active(self) -> bool:
        """Tracing on and inside a timed operation; per-layer counters are
        taken only then, so set-up and warm-up work stays out of them."""
        return self.enabled and self.op_id is not None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._open[-1] if self._open else None
        self._open.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.spans.append(
                {"id": sid, "parent": parent, "op": self.op_id,
                 "name": name, "start": start, "end": end}
            )

    def durations(self, name: str) -> list[float]:
        """Durations of the named spans taken inside timed operations."""
        return [
            s["end"] - s["start"] for s in self.spans if s["name"] == name and s["op"] is not None
        ]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval that its child
        spans cover (children may overlap; their union is subtracted)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selft = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({**s, "self": selft[s["id"]]}) + "\n")


class JobCounter:
    """Spark work per operation, read from ``statusTracker()``: each
    operation runs in its own job group; work outside operations (set-up,
    output checks) runs in an untimed group and is not counted."""

    UNTIMED = "perfbench-untimed"

    def __init__(self, sc):
        self.sc = sc
        self.per_op: list[tuple[int, int, int, int]] = []

    def start_op(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op_id}", "perfbench operation")

    def end_op(self) -> None:
        self.sc.setJobGroup(self.UNTIMED, "perfbench untimed work")

    def record(self, op_id: int) -> None:
        """Count jobs, executed stages, finished and failed tasks of one
        operation. Call after the operation's untimed check so the
        listener bus has delivered its task-end events."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(f"perfbench-op-{op_id}"):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                done = st.numCompletedTasks + st.numFailedTasks
                if done:
                    stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        self.per_op.append((jobs, stages, tasks, failed))

    def metrics(self) -> dict[str, float]:
        rows = np.array(self.per_op or [(0, 0, 0, 0)], dtype=float)
        return {
            "spark.jobs_per_op": float(rows[:, 0].mean()),
            "spark.stages_per_op": float(rows[:, 1].mean()),
            "spark.tasks_per_op": float(rows[:, 2].mean()),
            "spark.tasks_failed": float(rows[:, 3].sum()),
        }


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of a process (VmHWM in /proc/<pid>/status), MB."""
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024.0

