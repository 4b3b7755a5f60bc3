"""Spans around the library's public calls, with Spark job counts.

The benchmark records spans from its own code: :class:`Tracer` wraps the
public functions the ops reach (``Tracer.patched``) and the benchmark opens
spans around its own stage calls (``Tracer.span``).  Every span runs under
its own Spark job group, so after an op the tracer asks the status tracker
which jobs, tasks and failed tasks each span caused.  Spans stay in memory
until :meth:`Tracer.dump` writes them out at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for one run.  ``op`` tags spans with the op id."""

    def __init__(self) -> None:
        self.sc = None  # the SparkContext of the current session
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.counts: dict[str, int] = {}  # work counts of the current op

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span that ran outside any Spark job group."""
        self.spans.append(Span(name, start, end, op=self.op))

    def _group(self, idx: int) -> str:
        return f"perfbench-span-{idx}"

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self.stack.append(idx)
        self.sc.setJobGroup(self._group(idx), name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self.stack.pop()
            self.sc.setJobGroup(
                self._group(self.stack[-1]) if self.stack else "perfbench-idle", "")

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Replace ``getattr(owner, attr)`` with a traced wrapper named
        ``span_name`` for the duration of the block."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        for owner, attr, span_name in targets:
            setattr(owner, attr, self.wrap(span_name, getattr(owner, attr)))
        try:
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def count_jobs(self, first: int) -> None:
        """Fill the job, task and failed-task counts of spans ``first``.."""
        for idx in range(first, len(self.spans)):
            s = self.spans[idx]
            s.jobs, s.tasks, s.failed_tasks = job_counts(self.sc, self._group(idx))

    def dump(self, path: Path, record: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            fh.write(json.dumps({"record": record}) + "\n")
            for idx, s in enumerate(self.spans):
                fh.write(json.dumps({"id": idx, **asdict(s)}) + "\n")


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks run, tasks failed) of one job group, read once the
    listener bus has delivered every event of its jobs.  Stages skipped
    because their shuffle output was reused run no tasks."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else []:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    return jobs, tasks, failed
