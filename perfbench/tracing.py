"""Spans, layer wrappers and Spark status-store readings for the benchmark.

The benchmark times the engine from outside: every span opens and closes
in the benchmark's own code, around a call into one layer's public
function. Nothing in the engine package is edited; for the traced run,
``install_layer_wrappers`` replaces module attributes (before the query
registry is imported, so ``from ..catalog import load_table`` binds the
wrapper).

A span is (id, name, layer, start, end, parent span, operation id). With
tracing on, each span also tags the Spark jobs submitted under it, so a
job's owner is the innermost span that tagged it. With tracing off, only
operations are tagged, which is what ``cpu_s`` needs.
"""

from __future__ import annotations

import dataclasses
import functools
import inspect
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "output_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0


@dataclass
class JobStats:
    """Jobs, non-skipped stages and their summed stage metrics."""

    jobs: int = 0
    stages: int = 0
    values: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))

    def add(self, other: "JobStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        for k, v in other.values.items():
            self.values[k] += v


class SparkStatus:
    """Reads job and stage metrics from the driver's status store.

    Works with the UI disabled. Call ``drain`` after the work and before
    reading, so the status listener has seen every job and stage event.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self._jsc.statusTracker()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs_for_tag(self, tag: str) -> list[int]:
        return [int(j) for j in self._tracker.getJobIdsForTag(tag)]

    def stats(self, job_ids: list[int]) -> JobStats:
        out = JobStats(jobs=len(job_ids))
        seen: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            for sid in list(info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out.stages += 1
                v = out.values
                v["tasks"] += st.numCompleteTasks()
                v["executor_run_s"] += st.executorRunTime() / 1e3
                v["executor_cpu_s"] += st.executorCpuTime() / 1e9
                v["input_bytes"] += st.inputBytes()
                v["output_bytes"] += st.outputBytes()
                v["shuffle_write_bytes"] += st.shuffleWriteBytes()
                v["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Recorder:
    """Keeps spans in memory; one recorder per benchmark run.

    ``traced`` decides whether layer spans are recorded. Operation spans
    (the unit the end-to-end metrics count) are always recorded, and
    always tag their jobs. The stack of open spans is per thread, because
    some operators submit jobs from worker threads.
    """

    def __init__(self, sc, traced: bool) -> None:
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._op: int | None = None
        self._ids = itertools.count()

    def __getstate__(self) -> dict:
        # A wrapped function captured by a UDF body is pickled by value
        # together with its recorder; on an executor it must record nothing.
        return {
            "sc": None,
            "traced": False,
            "spans": [],
            "_stacks": defaultdict(list),
            "_op": None,
            "_ids": itertools.count(),
        }

    def _open(self, name: str, layer: str) -> Span:
        stack = self._stacks[threading.get_ident()]
        # a span opened on an operator's worker thread hangs off the operation
        parent = stack[-1].id if stack else self._op
        span = Span(next(self._ids), name, layer, 0.0, parent, self._op)
        self.spans.append(span)
        stack.append(span)
        if self.sc is not None:
            self.sc.addJobTag(self.tag(span))
        span.start = time.perf_counter()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        if self.sc is not None:
            self.sc.removeJobTag(self.tag(span))
        self._stacks[threading.get_ident()].pop()

    @staticmethod
    def tag(span: Span) -> str:
        return f"perfbench-span-{span.id}"

    def op(self, name: str, layer: str) -> "_SpanCtx":
        """An operation: one query or one batch. Always recorded."""
        return _SpanCtx(self, name, layer, is_op=True)

    def span(self, name: str, layer: str) -> "_SpanCtx":
        """A layer span; a no-op when tracing is off."""
        return _SpanCtx(self, name, layer, is_op=False)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def to_records(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.spans]


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str, layer: str, is_op: bool) -> None:
        self.rec, self.name, self.layer, self.is_op = rec, name, layer, is_op
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.is_op or self.rec.traced:
            self.span = self.rec._open(self.name, self.layer)
            if self.is_op:
                self.rec._op = self.span.id
                self.span.op = self.span.id
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.rec._close(self.span)
            if self.is_op:
                self.rec._op = None


def self_seconds(span: Span, kids: dict[int, list[Span]]) -> float:
    """Span duration minus the part of it its child spans cover.

    Children on one thread nest; children on worker threads may overlap,
    so the covered part is the union of the child intervals.
    """
    intervals = sorted((max(c.start, span.start), min(c.end, span.end)) for c in kids[span.id])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
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
    return (span.end - span.start) - covered


def job_owners(rec: Recorder, status: SparkStatus, spans: list[Span]) -> dict[int, int]:
    """Map each job to the innermost span (deepest tag) that submitted it."""
    depth: dict[int, int] = {}
    for s in spans:
        depth[s.id] = 0 if s.parent is None else depth.get(s.parent, 0) + 1
    owner: dict[int, int] = {}
    for s in spans:
        for jid in status.jobs_for_tag(rec.tag(s)):
            if jid not in owner or depth[s.id] > depth[owner[jid]]:
                owner[jid] = s.id
    return owner


def public_functions(module) -> list[str]:
    """Names of the public functions a module defines itself."""
    return [
        name
        for name, obj in vars(module).items()
        if not name.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == module.__name__
    ]
