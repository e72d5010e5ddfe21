"""Spans around calls into the engine's public functions, with Spark job
accounting read from the driver's status store.

A span records wall time plus the Spark work submitted while it was open.
Jobs are attributed by diffing job ids in the status store before and
after the call, not by job group: ``run_epoch`` submits its snapshot
writes from a thread pool, and a job group set on the calling thread does
not reach those threads.  The status store keeps only
``spark.ui.retainedJobs`` jobs (default 1000), so it is read as soon as
each call returns.

Spans are kept in memory and written out once, when the run ends.
"""
from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# per-span quantities, in the order they are reported
QUANTITIES = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("exec_run_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("driver_gap_s", "s"),
)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]``."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


@dataclass
class Span:
    id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    # (submission, completion) wall-clock seconds of each job the span saw
    job_intervals: list = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return len(self.job_intervals)

    @property
    def driver_gap_s(self) -> float:
        """Span wall not covered by any job's submission-to-completion
        interval: driver-side planning, collects, file listing."""
        return self.wall_s - union_length(self.job_intervals, self.start, self.end)


def self_time(span: Span, spans: list[Span]) -> float:
    """Span wall minus the part of it its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.wall_s - union_length(kids, span.start, span.end)


def sum_by_name(spans: list[Span], name: str) -> dict[str, float]:
    """Every quantity of QUANTITIES summed over the spans called ``name``
    (zero when the workload never made that call)."""
    out = {q: 0.0 for q, _ in QUANTITIES}
    for s in spans:
        if s.name == name:
            for q, _ in QUANTITIES:
                out[q] += getattr(s, q)
    return out


class SparkStatusReader:
    """Reads finished jobs and their stages from the driver status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def max_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def jobs_after(self, job_id: int) -> tuple[list, dict]:
        """(job intervals, stage totals) for the jobs with an id
        above ``job_id``.  Waits for the listener bus first, so the last
        job's completion and its stage metrics are in the store."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        intervals, stage_ids = [], set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        totals = {"stages": 0, "tasks": 0, "exec_run_s": 0.0,
                  "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0}
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            totals["stages"] += 1
            totals["tasks"] += st.numTasks()
            totals["exec_run_s"] += st.executorRunTime() / 1e3
            totals["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            totals["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        return intervals, totals


class Tracer:
    """Nested spans for one traced run.  A span's counts cover every job
    submitted while it was open, its children's included."""

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._status = SparkStatusReader(spark)
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        before = self._status.max_job_id()
        parent = self._open[-1].id if self._open else None
        s = Span(len(self.spans), name, self.run_id, parent, time.time())
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            s.job_intervals, totals = self._status.jobs_after(before)
            for k, v in totals.items():
                setattr(s, k, v)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
