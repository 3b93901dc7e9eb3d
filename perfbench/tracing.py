"""Spans around the benchmark's calls into the engine, and the Spark work
attributed to them.

A span records a layer, the public call it wraps, its start and end, its
parent span and the operation it belongs to. Spans stay in memory; the run
writes them out when it ends. No span is placed inside the package: every
span wraps a call the benchmark itself makes.

Spark work is attributed by job id. Operations run one at a time, so the
jobs a span caused are the ids the scheduler handed out between its start
and its end, less those of its child spans. A job group set on the calling
thread would miss the jobs that ``plans.pipeline.run_jobs`` submits from
its own thread pool, whose JVM threads do not inherit it. After an
operation, :meth:`Tracer.resolve` reads each job, and each job's stages,
from the status store, which keeps them even with the UI disabled.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Job:
    submit_ms: int
    end_ms: int
    tasks: int
    stages: list[dict]


@dataclass
class Span:
    id: int
    layer: str
    call: str
    op: int | None
    parent: int | None
    start: float = 0.0  # perf_counter seconds
    end: float = 0.0
    start_ms: float = 0.0  # epoch milliseconds, the clock Spark stamps jobs with
    end_ms: float = 0.0
    first_job: int = 0  # job ids [first_job, end_job) were submitted in the span
    end_job: int = 0
    jobs: list[Job] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {
            "id": self.id, "layer": self.layer, "call": self.call,
            "op": self.op, "parent": self.parent,
            "start_ms": round(self.start_ms, 3), "end_ms": round(self.end_ms, 3),
            "jobs": len(self.jobs),
        }


_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
}


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._dag = None

    @contextmanager
    def span(self, layer: str, call: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), layer, call, self.op,
                 parent.id if parent else None)
        self._stack.append(s)
        s.first_job = self._next_job()
        s.start_ms, s.start = time.time() * 1e3, time.perf_counter()
        try:
            yield s
        finally:
            s.end, s.end_ms = time.perf_counter(), time.time() * 1e3
            s.end_job = self._next_job()
            self._stack.pop()
            self.spans.append(s)

    def _next_job(self) -> int:
        if self.spark is None:
            return 0
        if self._dag is None:
            self._dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        return int(self._dag.nextJobId())

    def resolve(self, spans: list[Span]) -> None:
        """Fill each span's own jobs (not its children's) from Spark."""
        if self.spark is None:
            return
        store = self.spark.sparkContext._jsc.sc().statusStore()
        for s in spans:
            own = set(range(s.first_job, s.end_job))
            for c in spans:
                if c.parent == s.id:
                    own -= set(range(c.first_job, c.end_job))
            s.jobs = [_read_job(store, jid) for jid in sorted(own)]


def _read_job(store, jid: int) -> Job:
    j = store.job(jid)
    submit = j.submissionTime()
    done = j.completionTime()
    sids = j.stageIds()
    stages = []
    for k in range(sids.size()):
        try:
            st = store.lastStageAttempt(sids.apply(k))
        except Exception:  # noqa: BLE001 — a stage the store no longer holds
            continue
        stages.append({name: int(getattr(st, attr)()) for name, attr in _STAGE_FIELDS.items()})
    submit_ms = submit.get().getTime() if submit.isDefined() else 0
    end_ms = done.get().getTime() if done.isDefined() else submit_ms
    return Job(submit_ms, end_ms, int(j.numTasks()), stages)


# -- derived quantities -------------------------------------------------------


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    by_parent: dict[int | None, list[Span]] = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s.id, []))
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_union_s(spans: list[Span]) -> float:
    """Seconds of each span covered by at least one of its jobs, summed."""
    total = 0.0
    for s in spans:
        clipped = [
            (max(j.submit_ms, s.start_ms), min(j.end_ms, s.end_ms))
            for j in s.jobs
        ]
        total += _union_length([iv for iv in clipped if iv[1] > iv[0]])
    return total / 1e3


def self_time_s(spans: list[Span], s: Span) -> float:
    """``s``'s wall time minus the part its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == s.id]
    return s.wall - _union_length(kids)


def stages(spans: list[Span]) -> list[dict]:
    return [st for s in spans for j in s.jobs for st in j.stages]


def jobs(spans: list[Span]) -> list[Job]:
    return [j for s in spans for j in s.jobs]
