"""Spans recorded from the benchmark's side of each layer boundary.

Nothing here patches the program. Three sources feed a traced run:

* ``TracingCatalog`` -- a ``Catalog`` subclass handed to ``Pipeline``; it
  records a span around every ``write``, ``append``, ``read`` and
  ``record_metrics`` call, named by table.
* Spark's in-memory status store (``statusStore().jobsList`` and
  ``lastStageAttempt`` per stage id) -- job intervals and per-stage executor
  CPU, run time, shuffle, spill, GC and task counts.
* spans the workloads open around their own calls (a query's plan call, its
  execution).

Spans are kept in memory and written out when the run ends. Times are epoch
seconds so they line up with the status store's millisecond timestamps.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass

from cargo_dupes_spark.sources.catalog import Catalog


@dataclass
class Span:
    name: str  # layer.call, e.g. "catalog.write"
    key: str  # what it acted on: table, stage or query name
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span list; ``overhead_s`` is the time spent keeping it."""

    def __init__(self) -> None:
        self.items: list[Span] = []
        self.overhead_s = 0.0

    def record(self, name: str, key: str, start: float, end: float) -> Span:
        t0 = time.perf_counter()
        span = Span(name, key, start, end)
        self.items.append(span)
        self.overhead_s += time.perf_counter() - t0
        return span

    def timed(self, name: str, key: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            return fn(*args, **kwargs)
        finally:
            self.record(name, key, start, time.time())

    def named(self, name: str) -> list[Span]:
        return [s for s in self.items if s.name == name]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.items]


class TracingCatalog(Catalog):
    """Catalog that records a span around each table call it serves."""

    def __init__(self, *args, spans: Spans, **kwargs):
        super().__init__(*args, **kwargs)
        self.spans = spans
        self.recorded: dict[str, dict[str, float]] = {}

    def write(self, df, name, mode="overwrite"):
        return self.spans.timed("catalog.write", name, super().write, df, name, mode)

    def append(self, df, name, partition_by=None):
        return self.spans.timed(
            "catalog.append", name, super().append, df, name, partition_by
        )

    def read(self, name):
        return self.spans.timed("catalog.read", name, super().read, name)

    def record_metrics(self, stage, metrics):
        self.recorded.setdefault(stage, {}).update(metrics)
        return self.spans.timed(
            "catalog.record_metrics", stage, super().record_metrics, stage, metrics
        )


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span_iv: tuple[float, float], children) -> float:
    """A span's duration minus the part of it its children cover."""
    s0, e0 = span_iv
    clipped = [(max(s, s0), min(e, e0)) for s, e in children if e > s0 and s < e0]
    return (e0 - s0) - union_length(clipped)


@dataclass
class StageStats:
    stage_id: int
    num_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_mb: float
    spill_mb: float
    max_task_s: float


@dataclass
class JobStats:
    job_id: int
    description: str
    start: float
    end: float
    stages: list[StageStats]


class StatusStore:
    """Read-only view of Spark's in-memory status store through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = self._gw.new_array(self._gw.jvm.double, 1)
        self._quantiles[0] = 1.0

    def max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_after(self, job_id: int) -> list[JobStats]:
        """Every finished job with an id above ``job_id``, with its stages."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id or not j.completionTime().isDefined():
                continue
            desc = j.description()
            sids = j.stageIds()
            stages = [self._stage(sids.apply(k)) for k in range(sids.size())]
            out.append(
                JobStats(
                    job_id=j.jobId(),
                    description=desc.get() if desc.isDefined() else "",
                    start=j.submissionTime().get().getTime() / 1000.0,
                    end=j.completionTime().get().getTime() / 1000.0,
                    stages=[s for s in stages if s is not None],
                )
            )
        return sorted(out, key=lambda j: j.job_id)

    def _stage(self, stage_id: int) -> StageStats | None:
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Exception:  # a stage skipped by AQE has no attempt
            return None
        if st.numCompleteTasks() == 0:
            return None
        summary = self._store.taskSummary(st.stageId(), st.attemptId(), self._quantiles)
        max_task_ms = summary.get().executorRunTime().apply(0) if summary.isDefined() else 0.0
        return StageStats(
            stage_id=st.stageId(),
            num_tasks=st.numCompleteTasks(),
            run_s=st.executorRunTime() / 1e3,
            cpu_s=st.executorCpuTime() / 1e9,
            gc_s=st.jvmGcTime() / 1e3,
            shuffle_write_mb=st.shuffleWriteBytes() / 1e6,
            spill_mb=(st.diskBytesSpilled() + st.memoryBytesSpilled()) / 1e6,
            max_task_s=max_task_ms / 1e3,
        )


def fold_jobs(jobs: list[JobStats]) -> dict[str, float]:
    """Totals over a set of jobs; a stage shared by two jobs counts once."""
    stages = {s.stage_id: s for j in jobs for s in j.stages}.values()
    heaviest = max(stages, key=lambda s: s.run_s, default=None)
    return {
        "jobs": float(len(jobs)),
        "tasks": float(sum(s.num_tasks for s in stages)),
        "cpu_s": sum(s.cpu_s for s in stages),
        "run_s": sum(s.run_s for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "shuffle_mb": sum(s.shuffle_write_mb for s in stages),
        "spill_mb": sum(s.spill_mb for s in stages),
        # DS2-style skew signal: the largest task's share of the run time of
        # the stage that ran longest
        "max_task_share": (
            heaviest.max_task_s / heaviest.run_s if heaviest and heaviest.run_s > 0 else 0.0
        ),
    }
