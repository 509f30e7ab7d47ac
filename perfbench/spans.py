"""Spans and counters recorded from outside the package.

``Tracer`` times calls into the package's public functions, tags each
call's Spark jobs with a job group, and reads job, stage and task counts
back from ``SparkContext.statusTracker()``. ``StreamProgress`` is a
``StreamingQueryListener`` that keeps every micro-batch progress event.
Spans stay in memory until the run writes its record.
"""

from __future__ import annotations

import itertools
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: list[int] = field(default_factory=list)
    cpu_start: float = 0.0
    cpu_end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def cpu_seconds(self) -> float:
        return self.cpu_end - self.cpu_start


class Tracer:
    """Records spans and the Spark jobs each one ran.

    With ``enabled=False`` it still times every span (the end-to-end
    metrics need the durations) but sets no job group and keeps no span
    list, so the untraced run pays only the clock reads of each call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.sc = None  # SparkContext, set once a session exists
        #: CPU clock of the driver and the JVM tree, set once the JVM runs
        self.cpu_clock = None

    @contextmanager
    def span(self, name: str, jobs: bool = False, cpu: bool = False):
        """Time the body. With ``jobs=True`` (never nested inside another
        such span) a traced run also tags the body's Spark jobs. With
        ``cpu=True`` the span also reads the CPU clock, once it runs; each
        read walks ``/proc``, so only operation-level spans ask for it."""
        s = Span(name=name, start=time.perf_counter())
        cpu = cpu and self.cpu_clock is not None
        if cpu:
            s.cpu_start = s.cpu_end = self.cpu_clock()
        group = None
        if self.enabled:
            s.parent = self._stack[-1] if self._stack else None
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
            if jobs:
                group = f"{self.run_id}-{next(self._ids)}"
                self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if cpu:
                s.cpu_end = self.cpu_clock()
            if self.enabled:
                self._stack.pop()
                if group is not None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    s.jobs = self.group_jobs(group)

    def job_counts(self, job_ids: list[int]) -> dict[str, int]:
        """jobs, stages, tasks and failed tasks of ``job_ids``."""
        st = self.sc.statusTracker()
        stages = tasks = failed = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                stages += 1
                tasks += stage.numTasks
                failed += stage.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks, "tasks_failed": failed}

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def export(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": i,
                "name": s.name,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "parent": s.parent,
                "run_id": self.run_id,
                "jobs": len(s.jobs),
            }
            for i, s in enumerate(self.spans)
        ]


class StreamProgress:
    """Keeps each streaming progress event in arrival order.

    Listener callbacks arrive on Spark's listener bus, after the query
    that produced them may have returned; ``wait_terminated`` blocks
    until the bus has delivered a given number of terminations, so every
    earlier progress event of those queries has arrived too."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        self.events: list = []
        self.terminated = 0
        self._listener = _Listener()

    def attach(self, spark) -> None:
        spark.streams.addListener(self._listener)

    def wait_terminated(self, count: int, timeout_s: float = 10.0) -> None:
        deadline = time.monotonic() + timeout_s
        while self.terminated < count:
            if time.monotonic() > deadline:
                raise TimeoutError(f"listener saw {self.terminated} of {count} stream terminations")
            time.sleep(0.01)

    def take(self) -> list:
        """Progress events received since the previous ``take``."""
        out, self.events = self.events, []
        return out
