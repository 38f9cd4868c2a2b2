"""Span tracing around the program's public calls.

Spans are recorded only here, by wrapping the calls into each layer
for the duration of a traced run; the program itself is unchanged.
Every span records its name, start, end, parent and the run id, the
Spark jobs, tasks and failed task attempts it caused (counted through
a job group per span and the StatusTracker) and the CPU seconds of the
whole process tree. Spans stay in memory until ``dump``.

Spark evaluates lazily, so an operator call (``annotate_mentions``,
``extract_triples``, ...) only builds a plan; its rows are computed in
the parquet write of the checkpoint stage it is built into. The write
spans therefore carry the execution time of those operators.
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from proctree import tree_cpu_s


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    unit: int
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    # the span's jobs, its descendants' included
    job_ids: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, root_pid: int) -> None:
        self.spark = spark
        self.root_pid = root_pid
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.enabled = False
        self.unit = -1
        # seconds spent in the tracer's own bookkeeping while enabled
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        entered = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        span = Span(
            name=name,
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            unit=self.unit,
            start=entered,
        )
        self.spans.append(span)
        self._stack.append(span)
        cpu0 = tree_cpu_s(self.root_pid)
        sc.setJobGroup(self._group(span), name)
        span.start = time.perf_counter()
        self.overhead_s += span.start - entered
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.cpu_s = tree_cpu_s(self.root_pid) - cpu0
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group(parent), parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(span)
            if parent is not None:
                parent.jobs += span.jobs
                parent.tasks += span.tasks
                parent.failed_tasks += span.failed_tasks
                parent.job_ids += span.job_ids
            self.overhead_s += time.perf_counter() - span.end

    def _group(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.span_id}"

    def _count_jobs(self, span: Span) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(span)):
            span.jobs += 1
            span.job_ids.append(job_id)
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    span.tasks += stage.numCompletedTasks
                    span.failed_tasks += stage.numFailedTasks

    # -- wrapping --------------------------------------------------------

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``unwrap``."""
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Trace every call of ``owner.attr`` as a span ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, traced)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as handle:
            for span in self.spans:
                record = asdict(span)
                record["seconds"] = span.seconds
                record["self_s"] = self_seconds(self.spans, span)
                handle.write(json.dumps(record) + "\n")


def self_seconds(spans: list[Span], span: Span) -> float:
    """Span duration minus the time its direct children cover (children
    run one after another on the driver thread, so they never overlap)."""
    children = sum(s.seconds for s in spans if s.parent == span.span_id)
    return span.seconds - children
