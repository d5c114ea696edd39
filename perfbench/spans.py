"""Spans and Spark status-store counters for the benchmark.

A ``Tracer`` records spans (name, start, end, parent, op id) around the
benchmark's calls into each layer's public functions. Every span runs
under its own job group, so the jobs submitted from the calling thread
are found by that group name. Jobs the layer submits from other threads
(the pipeline's driver-thread pool, a streaming query's micro-batch
thread) carry no group of ours; they are attributed to the innermost
span that was open when they were submitted, by job id.

Counters come from Spark's own status store (it is populated with the
UI disabled): per job its stages, and per stage the task count,
executor run time, input rows and shuffle bytes.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Counts:
    jobs: int = 0
    group_jobs: int = 0      # jobs found by the span's own job group
    stages: int = 0
    tasks: int = 0
    executor_s: float = 0.0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0

    def add(self, other: "Counts") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: Counts = field(default_factory=Counts)
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class StatusStore:
    """Thin reader over ``SparkContext``'s AppStatusStore via py4j."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects all jobs that have finished."""
        self.jsc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        # the store lists jobs newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def group_job_ids(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_counts(self, job_ids) -> Counts:
        c = Counts()
        seen = set()
        for jid in job_ids:
            job = self.store.job(jid)
            c.jobs += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage, never run
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                c.stages += 1
                c.tasks += st.numTasks()
                c.executor_s += st.executorRunTime() / 1000.0
                c.input_rows += st.inputRecords()
                c.shuffle_write_bytes += st.shuffleWriteBytes()
                c.shuffle_read_bytes += st.shuffleReadBytes()
        return c


class Tracer:
    """Spans kept in memory; ``spans`` is written out when the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.status = StatusStore(sc)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._claimed: set[int] = set()
        self._seq = 0

    @contextmanager
    def span(self, name: str, op_id: int, **attrs):
        parent = self._stack[-1] if self._stack else None
        self.status.drain()
        first_job = self.status.max_job_id() + 1
        self._seq += 1
        group = f"{GROUP_PREFIX}{op_id}:{name}:{self._seq}"
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        sp = Span(name, op_id, parent, time.perf_counter(), attrs=dict(attrs))
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if outer is not None:
                self.sc.setJobGroup(outer, outer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.status.drain()
            last_job = self.status.max_job_id()
            window = set(range(first_job, last_job + 1))
            own = self.status.group_job_ids(group)
            mine = (window | own) - self._claimed
            self._claimed |= mine
            sp.counts = self.status.job_counts(sorted(mine))
            sp.counts.group_jobs = len(own)

    def subtree(self, idx: int) -> Counts:
        """Counts of a span including every span nested under it."""
        total = Counts()
        total.add(self.spans[idx].counts)
        for j, s in enumerate(self.spans):
            if s.parent == idx:
                total.add(self.subtree(j))
        return total

    def to_json(self) -> list[dict]:
        out = []
        for i, s in enumerate(self.spans):
            out.append({"id": i, "name": s.name, "op_id": s.op_id,
                        "parent": s.parent, "start": s.start, "end": s.end,
                        "wall_s": s.wall_s, "counts": vars(s.counts),
                        "attrs": s.attrs})
        return out
