"""Spans for the traced run, recorded from the benchmark's side of each
layer boundary.

A span tags every Spark job started inside it with its own job group
(a thread-local property; the parent's group is restored on exit), so a
span's counters are its *self* counters: jobs run by child spans carry
the child's group. Counters are read after the operation from Spark's
in-process status stores, which work with the UI disabled.

Layer boundaries inside the program are reached by temporarily
replacing a module attribute with a wrapper (:func:`patched`). A
wrapper around a function that returns a lazy DataFrame materializes
the result with an eager local checkpoint inside the span, so the
layer's work happens, and is timed, there; this changes the plan, and
the difference shows as tracing overhead.
"""

from __future__ import annotations

import json
import re
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: per-stage counters summed into every span
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
)

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    run_id: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    rows: int | None = None
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    self_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(
            id=sid,
            name=name,
            run_id=run_id or (parent.run_id if parent else name),
            parent=parent.id if parent else None,
            group=f"{_GROUP_PREFIX}{sid}",
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- counters -----------------------------------------------------------------
    def last_job_id(self) -> int:
        ids = [j.jobId() for j in _seq(self.sc._jsc.sc().statusStore().jobsList(None))]
        return max(ids, default=-1)

    def unattributed_jobs(self, after_job_id: int) -> int:
        """Jobs started after ``after_job_id`` that no span's group claims."""
        ours = {sp.group for sp in self.spans}
        n = 0
        for j in _seq(self.sc._jsc.sc().statusStore().jobsList(None)):
            if j.jobId() <= after_job_id:
                continue
            g = j.jobGroup()
            if not (g.isDefined() and g.get() in ours):
                n += 1
        return n

    def collect(self, spans: list[Span], plan_rows_for: tuple[str, ...] = ()) -> None:
        """Fill each span's counters and self time, and for spans named in
        ``plan_rows_for`` the row counts of their Generate and join plan
        nodes."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for sp in spans:
            jobs = list(tracker.getJobIdsForGroup(sp.group))
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            c = dict.fromkeys(COUNTERS, 0)
            c["jobs"] = len(jobs)
            for s in stage_ids:
                st = store.lastStageAttempt(s)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["input_bytes"] += st.inputBytes()
                c["input_records"] += st.inputRecords()
            sp.counters = c
            if sp.name in plan_rows_for:
                sp.attrs.update(self._plan_rows(set(jobs)))
        for sp in spans:
            kids = [k for k in self.spans if k.parent == sp.id]
            sp.self_s = sp.wall_s - sum(k.wall_s for k in kids)

    def _plan_rows(self, jobs: set[int]) -> dict:
        """Output rows of Generate and join nodes in the SQL executions
        that ran ``jobs``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        generated = joined = 0
        for e in _seq(store.executionsList()):
            if not jobs & {int(x) for x in re.findall(r"\d+", str(e.jobs().keySet()))}:
                continue
            values = store.executionMetrics(e.executionId())
            for node in _seq(store.planGraph(e.executionId()).allNodes()):
                name = node.name()
                if name != "Generate" and not name.endswith("Join"):
                    continue
                for m in _seq(node.metrics()):
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(m.accumulatorId())
                    rows = int(v.get().replace(",", "")) if v.isDefined() else 0
                    if name == "Generate":
                        generated += rows
                    else:
                        joined = max(joined, rows)
        return {"generated_rows": generated, "max_join_rows": joined}

    def dump(self, path: str, extra: dict) -> None:
        rows = []
        for sp in self.spans:
            d = asdict(sp)
            d["wall_s"] = sp.wall_s
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


def _seq(scala_seq):
    """Iterate a Scala Seq returned through py4j."""
    return (scala_seq.apply(i) for i in range(scala_seq.size()))


# -- layer boundaries ---------------------------------------------------------------
def materialized(tracer: Tracer, name: str) -> Callable:
    """Wrapper factory: run the layer function inside a span and
    materialize its DataFrame there (eager local checkpoint + count)."""

    def make(fn):
        def wrapped(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs).localCheckpoint(eager=True)
                sp.rows = out.count()
            return out

        return wrapped

    return make


def timed(tracer: Tracer, name: str, after: Callable | None = None) -> Callable:
    """Wrapper factory for a layer function that runs its own jobs;
    ``after(*args, **kwargs)`` returns attributes recorded on the span
    once the call has returned."""

    def make(fn):
        def wrapped(*args, **kwargs):
            with tracer.span(name) as sp:
                result = fn(*args, **kwargs)
                if after is not None:
                    sp.attrs.update(after(*args, **kwargs))
            return result

        return wrapped

    return make


@contextmanager
def patched(targets):
    """Temporarily replace ``(owner, attribute)`` with ``make(original)``
    for each ``(owner, attribute, make)`` in ``targets``."""
    saved = []
    try:
        for owner, attr, make in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, make(orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
