"""Spans, Spark job counts and the summary statistics the benchmark reports.

A span is opened around each call into a layer's public function. With
tracing on, each span runs its Spark jobs under a job group of its own,
and on close reads the jobs, stages and tasks of that group from the
public ``statusTracker()``. Spans stay in memory and are written out once,
at exit. With tracing off, ``span`` is a no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import math
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, len(self.spans), parent.span_id if parent else None,
                  time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"{self.run_id}/{sp.span_id}"
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"{self.run_id}/{parent.span_id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self._count_jobs(sc, group, sp)

    @staticmethod
    def _count_jobs(sc, group: str, sp: Span) -> None:
        tracker = sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            sp.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                # A stage whose shuffle output was reused is recorded as
                # skipped, with no task run: count only tasks that ran.
                stage = tracker.getStageInfo(stage_id)
                ran = stage.numCompletedTasks + stage.numFailedTasks if stage else 0
                if ran == 0:
                    continue
                sp.stages += 1
                sp.tasks += ran
                sp.failed_tasks += stage.numFailedTasks

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        return self_time(sp.start, sp.end, [(c.start, c.end) for c in self.children(sp)])

    def totals(self, sp: Span) -> dict[str, int]:
        """Job, stage and task counts of ``sp`` including its descendants."""
        out = {"jobs": sp.jobs, "stages": sp.stages, "tasks": sp.tasks,
               "failed_tasks": sp.failed_tasks}
        for child in self.children(sp):
            for k, v in self.totals(child).items():
                out[k] += v
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = []
        for sp in self.spans:
            row = asdict(sp)
            row["self_s"] = self.self_time(sp)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows}, fh, indent=1)


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of [start, end] that child spans cover
    (overlapping children are counted once)."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
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
    return (end - start) - covered


def median(values: list[float]) -> float:
    vals = sorted(values)
    if not vals:
        raise ValueError("median of no samples")
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (value, percentile, sample count). The value is the
    ``beyond + 1``-th largest sample, and the percentile is the share of
    samples at or below it. With ``beyond`` samples or fewer no percentile
    qualifies, and the maximum is returned as the 100th percentile."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return vals[-1], 100.0, n
    idx = n - beyond - 1
    return vals[idx], 100.0 * (idx + 1) / n, n


def tail_at(values: list[float], guaranteed: int, beyond: int = 10) -> tuple[float, float, int]:
    """The percentile ``tail`` picks for ``guaranteed`` samples, taken of
    all ``values`` (nearest rank). A run always makes at least
    ``guaranteed`` samples, so every run reports the same percentile, also
    one that makes more; a run with fewer (its failed ops add no sample)
    falls back to ``tail``. Returns (value, percentile, sample count)."""
    vals = sorted(values)
    n = len(vals)
    if n < guaranteed:
        return tail(vals, beyond)
    rank = guaranteed - beyond if guaranteed > beyond else guaranteed
    idx = -(-rank * n // guaranteed) - 1  # ceil(rank * n / guaranteed) - 1
    return vals[idx], 100.0 * rank / guaranteed, n


def percentile_label(p: float) -> str:
    return f"p{math.floor(p * 10) / 10:g}"
