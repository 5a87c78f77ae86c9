"""Spans recorded from the benchmark around calls into the engine's modules.

A span has a name (the layer, e.g. ``sources.csv.create``), a start and end
time, a parent span, and the id of the operation it belongs to. While a span
is open its id is the Spark job group, so ``SparkContext.statusTracker()``
yields the jobs, stages and tasks it launched. Jobs that start without a
group while the span is open are counted against it as well.

Spans stay in memory; ``dump`` writes them out once the run ends. A disabled
tracer records nothing and makes no Spark calls, so untraced runs pay nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    op_id: int
    pass_id: int | None
    parent: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id = 0  # advanced by the runner for each op
        self.pass_id: int | None = None
        self._claimed: set[int] = set()  # ungrouped jobs already counted
        # time spent inside the tracer's own Spark bookkeeping calls
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{len(self.spans)}", name, self.op_id, self.pass_id,
                  parent.id if parent else None, 0.0, attrs=attrs)
        tracker = self.sc.statusTracker()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(sp.id, name)
        self.spans.append(sp)
        self._stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            jobs = list(tracker.getJobIdsForGroup(sp.id))
            stray = set(tracker.getJobIdsForGroup(None)) - ungrouped - self._claimed
            self._claimed |= stray
            jobs += sorted(stray)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        sp.stages += 1
                        sp.tasks += st.numTasks
            if parent is not None:
                parent.jobs += sp.jobs
                parent.stages += sp.stages
                parent.tasks += sp.tasks
            self.bookkeeping_s += time.perf_counter() - t1

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median_seconds(self, name: str) -> float:
        return statistics.median(s.seconds for s in self._require(name))

    def median_count(self, name: str, attr: str) -> float:
        return statistics.median(getattr(s, attr) for s in self._require(name))

    def _require(self, name: str) -> list[Span]:
        spans = self.by_name(name)
        if not spans:
            raise RuntimeError(f"no span named {name!r} was recorded")
        return spans

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
