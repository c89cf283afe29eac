"""Spans around calls into the engine's layers, attributed through
Spark's status store.

A span records name, start, end and parent in memory. While a span is
open, every Spark job the driver program submits carries the span's
job group, so after an iteration the status store (``AppStatusStore``, which fills
even with the UI disabled) tells which jobs, tasks, executor CPU,
shuffle bytes and spill each span caused. Jobs are attributed to the
innermost open span; a span's self time is its duration minus the part
covered by its child spans.

Instrumentation wraps the layers' public entry points from outside the
package (``instrument``): each wrapped call opens a span and forces its
result inside it, the same way ``run_pipeline(eager_stage_timing=True)``
forces each stage. Forcing changes the plan being timed, which is why
end-to-end numbers come from untraced iterations and the traced run
reports its overhead against them.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows: int | None = None
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for one SparkContext, used by one thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        self._stack.append(s.id)
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"{_GROUP_PREFIX}{top}", self.spans[top].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_time(self, s: Span) -> float:
        covered = sum(self.spans[c].duration for c in s.children)
        return max(0.0, s.duration - covered)

    def attribute(self, jobs: list[dict]) -> None:
        """Fold status-store job records (see ``JobWindow``) into the
        spans whose job group they carry."""
        for j in jobs:
            group = j["group"]
            if not group or not group.startswith(_GROUP_PREFIX):
                continue
            s = self.spans[int(group[len(_GROUP_PREFIX):])]
            s.jobs += 1
            s.tasks += j["tasks"]
            s.task_s += j["task_s"]
            s.cpu_s += j["cpu_s"]
            s.shuffle_write_bytes += j["shuffle_write_bytes"]
            s.spill_bytes += j["spill_bytes"]

    def to_records(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s),
                "rows": s.rows,
                "jobs": s.jobs,
                "tasks": s.tasks,
                "task_s": s.task_s,
                "cpu_s": s.cpu_s,
                "shuffle_write_bytes": s.shuffle_write_bytes,
                "spill_bytes": s.spill_bytes,
            }
            for s in self.spans
        ]


class JobWindow:
    """The Spark jobs submitted between ``open()`` and ``close()``, read
    back from the status store with per-job stage totals."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._first_job = 0

    def _job_count(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def open(self) -> None:
        self._first_job = self._job_count()

    def close(self) -> list[dict]:
        last = self._job_count()
        jobs, wanted_stages = [], {}
        seq = self._store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if not self._first_job <= jid < last:
                continue
            group = j.jobGroup()
            stage_ids = j.stageIds()
            rec = {
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "submitted": j.submissionTime().get().getTime() / 1e3,
                "completed": j.completionTime().get().getTime() / 1e3,
                "tasks": 0,
                "task_s": 0.0,
                "cpu_s": 0.0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            for k in range(stage_ids.size()):
                wanted_stages[stage_ids.apply(k)] = rec
            jobs.append(rec)
        gw = self.sc._gateway
        stages = self._store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            rec = wanted_stages.get(st.stageId())
            # skipped stages get fresh ids and carry no work
            if rec is None or str(st.status()) != "COMPLETE":
                continue
            rec["tasks"] += st.numCompleteTasks()
            rec["task_s"] += st.executorRunTime() / 1e3
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        jobs.sort(key=lambda r: r["id"])
        return jobs


def busy_seconds(jobs: list[dict], start: float, end: float) -> float:
    """Wall time within [start, end] during which at least one job ran."""
    busy, cursor = 0.0, start
    for a, b in sorted((max(j["submitted"], start), min(j["completed"], end)) for j in jobs):
        a = max(a, cursor)
        if b > a:
            busy += b - a
            cursor = b
    return busy


def _forced(df):
    from entity_linking_in_biomedical_spark.session import barrier_level

    return df.localCheckpoint(eager=True, storageLevel=barrier_level())


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the layers' public entry points with spans for the duration
    of the block; the originals are restored on exit.

    Spans: one per pipeline stage (``StageStore.get_or_compute``, named
    after the stage; the computed frame is forced before it is committed,
    and the committed result is counted, as eager stage timing does),
    ``idf_fit``, ``store.commit``, ``store.load`` and ``pubtator.scan``."""
    from entity_linking_in_biomedical_spark.plans import pipeline, preprocess, resume

    patches = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def stage(orig):
        def wrapper(self, stage, signature, compute, bucket_by=None):
            with tracer.span(stage) as s:
                # the stage's frame is lazy: force it here, so that its
                # work is charged to the stage and the store.commit span
                # holds only the write and the manifest
                out = orig(self, stage, signature, lambda: _forced(compute()), bucket_by=bucket_by)
                s.rows = out.count()
            return out

        return wrapper

    def spanned(name, force=None):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    out = orig(*args, **kwargs)
                    if force is not None:
                        out = force(out)
                return out

            return wrapper

        return make

    patch(resume.StageStore, "get_or_compute", stage)
    patch(resume.StageStore, "commit", spanned("store.commit"))
    patch(resume.StageStore, "load", spanned("store.load"))
    patch(pipeline, "fit_idf", spanned("idf_fit"))
    patch(preprocess, "read_pubtator", spanned("pubtator.scan", force=_forced))
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)
