"""Spans and Spark status-store readings for the traced run.

A span is one timed call into a layer, recorded from the benchmark's own
files: name, start, end, parent span and iteration id. While a span is
open its job group is set, so the Spark jobs it causes can be read back
from the application status store afterwards (this works with the UI
off). Streaming micro-batches run on the query's own thread, which sets
the query's run id as job group and ``batch = <id>`` in the job
description; ``batch_jobs`` attributes those jobs per batch.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024
_BATCH_RE = re.compile(r"batch = (\d+)")


def _opt(o):
    """Scala Option -> value or None."""
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else float(d.getTime())


@dataclass
class StageSum:
    """Summed metrics of a set of Spark stages."""

    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, o: "StageSum") -> "StageSum":
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))
        return self


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    stage_ids: list[int]
    start_ms: float | None
    end_ms: float | None


class StatusStore:
    """Reads jobs, stages and task quantiles of this application."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_after(self, job_id: int) -> list[Job]:
        """Jobs with an id above ``job_id`` (ids grow monotonically)."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                continue
            sids = j.stageIds()
            out.append(Job(
                j.jobId(), _opt(j.jobGroup()), _opt(j.description()),
                [sids.apply(k) for k in range(sids.size())],
                _ms(j.submissionTime()), _ms(j.completionTime()),
            ))
        return sorted(out, key=lambda j: j.job_id)

    def stage_sum(self, stage_ids) -> StageSum:
        s = StageSum()
        for sid in set(stage_ids):
            attempts = self.store.stageData(sid, False, None, False, None)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() == "SKIPPED":
                    continue
                s.stages += 1
                s.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                s.failed_tasks += sd.numFailedTasks()
                s.exec_run_s += sd.executorRunTime() / 1e3
                s.exec_cpu_s += sd.executorCpuTime() / 1e9
                s.shuffle_write_mb += sd.shuffleWriteBytes() / MB
                s.shuffle_read_mb += sd.shuffleReadBytes() / MB
                s.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return s

    def task_skew(self, stage_ids) -> float:
        """Largest max/median task run time over stages with >1 task."""
        worst = 1.0
        for sid in set(stage_ids):
            attempts = self.store.stageData(sid, False, None, False, None)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() != "COMPLETE" or sd.numCompleteTasks() < 2:
                    continue
                dist = _opt(self.store.taskSummary(sid, sd.attemptId(), self._q))
                if dist is None:
                    continue
                run = dist.executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                if med > 0:
                    worst = max(worst, mx / med)
        return worst


def busy_ms(jobs: list[Job], t0_ms: float, t1_ms: float) -> float:
    """Milliseconds of [t0, t1] during which at least one job ran."""
    iv = sorted(
        (max(j.start_ms, t0_ms), min(j.end_ms or t1_ms, t1_ms))
        for j in jobs if j.start_ms is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def batch_jobs(jobs: list[Job], run_id: str) -> dict[int, list[Job]]:
    """Jobs of one streaming query, keyed by micro-batch id."""
    out: dict[int, list[Job]] = {}
    for j in jobs:
        if j.group != run_id or not j.description:
            continue
        m = _BATCH_RE.search(j.description)
        if m:
            out.setdefault(int(m.group(1)), []).append(j)
    return out


def persisted_mb(spark) -> float:
    """Memory plus disk held by persisted RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.status = StatusStore(spark) if enabled else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.iteration = -1
        self.iter_first_job = -1  # last job id before the traced iteration
        self.persisted_mb_peak = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.span_id if parent else None,
                  self.iteration, time.perf_counter(), attrs=dict(attrs))
        group = f"perfbench-{sp.span_id}"
        sp.attrs["job_group"] = group
        first_job = self.status.max_job_id()
        self._stack.append(sp)
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.attrs["job_group"], parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            own = [j for j in self.status.jobs_after(first_job) if j.group == group]
            s = self.status.stage_sum(sid for j in own for sid in j.stage_ids)
            sp.attrs.update(jobs=len(own), stage_sum=s)
            self.spans.append(sp)
            self.persisted_mb_peak = max(self.persisted_mb_peak, persisted_mb(self.spark))

    def tree_sum(self, sp: Span) -> StageSum:
        """Stage metrics of a span plus all spans nested in it."""
        total = StageSum().add(sp.attrs["stage_sum"])
        for c in self.spans:
            if c.parent == sp.span_id:
                total.add(self.tree_sum(c))
        return total

    def to_json(self) -> list[dict]:
        out = []
        for s in self.spans:
            a = {k: v for k, v in s.attrs.items() if k != "stage_sum"}
            a.update({k: round(v, 6) if isinstance(v, float) else v
                      for k, v in vars(s.attrs["stage_sum"]).items()})
            out.append({"span_id": s.span_id, "name": s.name, "parent": s.parent,
                        "iteration": s.iteration, "start": round(s.start, 6),
                        "end": round(s.end, 6), **a})
        return out
