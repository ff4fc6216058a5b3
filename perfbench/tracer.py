"""In-memory span tracer used by the benchmark's traced runs.

Spans are recorded around calls into the program's public functions by
patching them from the benchmark side (the program itself carries no
tracing). Each span tags its Spark work with its own job group, so after
the run the status tracker attributes jobs, stages and tasks to the span
that launched them. Self time is a span's duration minus the part covered
by its children.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    unit: str = ""  # day or request id the span belongs to
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; a disabled tracer adds one
    attribute check per wrapped call."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self.unit = ""
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = self._enter(name)
        try:
            yield s
        finally:
            self._exit(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        a traced wrapper until :meth:`restore`."""
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _enter(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent=parent.id if parent else None, unit=self.unit)
        self.spans.append(s)
        if parent:
            parent.children.append(s.id)
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s.id}", name)
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent:
            self.sc.setJobGroup(f"span-{parent.id}", parent.name)
        else:
            self.sc.setLocalProperty(_JOB_GROUP, None)

    def collect_spark_counts(self) -> None:
        """Attribute finished jobs, stages and tasks to their spans. The
        status store is fed asynchronously, so wait briefly first."""
        time.sleep(1.0)
        tracker = self.sc.statusTracker()
        for s in self.spans:
            for job_id in tracker.getJobIdsForGroup(f"span-{s.id}"):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                s.jobs += 1
                for stage_id in info.stageIds:
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:
                        s.stages += 1
                        s.tasks += stage.numTasks

    def self_time(self, s: Span) -> float:
        """Duration minus the union of the children's intervals (children
        run sequentially on one thread, so they never overlap)."""
        return s.duration - sum(self.spans[c].duration for c in s.children)

    def subtree(self, s: Span):
        yield s
        for c in s.children:
            yield from self.subtree(self.spans[c])

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                row = asdict(s)
                row["self"] = self.self_time(s)
                f.write(json.dumps(row) + "\n")
