"""Spans around the benchmark's calls into the package, with Spark's own
job, stage and task counters attached to each span.

Each span runs under its own Spark job group, so the jobs it submits can
be read back through ``statusTracker().getJobIdsForGroup``. Jobs that
the package submits from its own worker threads carry no group (a job
group is a thread-local property); the one client of the closed loop is
the only source of jobs, so ungrouped jobs first seen when a span closes
belong to that span. Per-stage figures come from the status store
(``statusStore().lastStageAttempt``), which Spark keeps with the UI off.

Spans are kept in memory and written out when the run ends. Counters are
read after an operation returns, never inside a timed window.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    timed: bool = True  # inside the operation's timed window
    jobs: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    active = False
    op = None
    timed = True

    def begin_op(self, op: int) -> None:
        pass

    def span(self, name: str):
        return nullcontext()


class Tracer:
    active = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._ungrouped: set[int] = set()
        self.op: int | None = None
        self.timed = True

    def bind(self, sc) -> None:
        """Follow a (re)started SparkContext; None while there is none."""
        self._sc = sc
        self._ungrouped = set(self._ungrouped_ids())

    def _ungrouped_ids(self) -> list[int]:
        if self._sc is None:
            return []
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def begin_op(self, op: int | None) -> None:
        self.op = op
        self.timed = True
        self._ungrouped = set(self._ungrouped_ids())

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            op=self.op,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            timed=self.timed,
        )
        self.spans.append(s)
        self._stack.append(s)
        sc = self._sc  # None until a session exists: the span is timed only
        if sc is not None:
            sc.setJobGroup(f"perfbench-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                new = set(self._ungrouped_ids()) - self._ungrouped
                self._ungrouped |= new
                grouped = sc.statusTracker().getJobIdsForGroup(f"perfbench-{s.id}")
                s.jobs = sorted(set(grouped) | new)
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def collect_counters(self, spans: list[Span]) -> None:
        """Read the status store for the jobs of ``spans``."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        for s in spans:
            c = dict.fromkeys(COUNTERS, 0.0)
            seen: set[int] = set()
            for jid in s.jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    c["stages"] += 1
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        c["stages_skipped"] += 1
                        continue
                    c["tasks"] += sd.numTasks()
                    c["executor_run_ms"] += sd.executorRunTime()
                    c["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    )
                    c["input_bytes"] += sd.inputBytes()
                    c["output_bytes"] += sd.outputBytes()
            s.counters = c

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def write(self, path: str) -> None:
        own = self_ms(self.spans)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_ms": own[s.id]} for s in self.spans], f)


def inclusive(spans: list[Span], root: Span) -> dict[str, float]:
    """Counters of ``root`` plus all its descendants."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    total = dict.fromkeys(COUNTERS, 0.0)
    todo = [root]
    while todo:
        s = todo.pop()
        for k, v in s.counters.items():
            total[k] += v
        todo.extend(kids.get(s.id, []))
    return total


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover. Spans
    come from the one client thread, so children never overlap."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
    return {s.id: s.ms - child_ms.get(s.id, 0.0) for s in spans}
