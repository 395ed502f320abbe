"""Spans recorded from outside the engine, with Spark status-store counters.

A span is opened around one call into a layer (session bring-up, a
registry query, plan forcing, an action, an incremental update, a pin). Each span runs under
its own Spark job group; when it closes, the listener bus is drained and
the jobs of that group are read back from the status store, so the span
carries the jobs, stages, tasks, shuffle bytes, spill and executor time
its call launched. Spans stay in memory and are written once, at exit.

With tracing off, ``span`` only yields: no job group, no bus drain.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_run_ms",
    "executor_cpu_ms",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    unit: int | None
    start: float
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)
    attrs: dict[str, object] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool, t0: float):
        self.spark = spark
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        #: The timed unit (pass or period) new spans belong to.
        self.unit: int | None = None

    @contextmanager
    def span(self, name: str, /, **attrs):
        if not self.enabled:
            yield None
            return
        # Before the session exists (around ``get_session``) a span has
        # no job group and no counters.
        sc = self.spark.sparkContext if self.spark is not None else None
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, parent, self.unit, 0.0, attrs=attrs)
        group = f"graftbench-{s.id}"
        self._stack.append(s)
        if sc is not None:
            sc.setJobGroup(group, name)
        s.start = time.perf_counter() - self.t0
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(f"graftbench-{self._stack[-1].id}", self._stack[-1].name)
                else:
                    sc._jsc.clearJobGroup()
                s.counters = self._counters(group)
            self.spans.append(s)

    def _counters(self, group: str) -> dict[str, int]:
        """Sum the status-store record of every stage the group's jobs ran."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sd = store.lastStageAttempt(stage)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime()  # ns until the end
        out["executor_cpu_ms"] //= 1_000_000
        return out

    def self_times(self) -> dict[int, float]:
        """Each span's wall time minus the part its children cover."""
        out = {s.id: s.wall for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.wall
        return out

    def records(self) -> list[dict]:
        own = self.self_times()
        return [dict(asdict(s), self_s=own[s.id]) for s in self.spans]
