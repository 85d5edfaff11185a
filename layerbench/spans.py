"""Outside-in spans around the benchmark's calls into each layer.

A span records its name, start, end, parent span and the id of the
operation it belongs to.  Spans are kept in memory; when the run ends
they are summarised and written out, one JSON line each.  Each span
runs its Spark jobs under a job group of its own (``setJobGroup``);
after the run the status tracker maps every group to its jobs, stages
and tasks, so a span is charged exactly the jobs submitted while it was
the innermost open span.  With tracing off, ``span`` only yields: no
clock is read and no job group is set.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import self_time, union_length


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.sc = None            # SparkContext, once the session is up
        self.spans: list[Span] = []
        self.overhead = 0.0       # seconds spent in span bookkeeping
        self._stack: list[Span] = []
        self._op = 0

    def new_op(self) -> None:
        """Spans opened from here to the next call share a new op id."""
        self._op += 1

    @staticmethod
    def group(sid: int) -> str:
        return f"layerbench-{sid}"

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group(sp.sid), sp.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self._op,
                  parent.sid if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self.overhead += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead += time.perf_counter() - sp.end

    # -- after the run ---------------------------------------------------
    def resolve_jobs(self, timeout: float = 10.0) -> None:
        """Charge each span the jobs, stages and tasks of its job group,
        waiting (bounded) for the listener bus to record the last jobs."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        deadline = time.time() + timeout
        for sp in self.spans:
            ids = st.getJobIdsForGroup(self.group(sp.sid))
            stage_ids = set()
            for j in ids:
                info = st.getJobInfo(j)
                while (info is None or info.status == "RUNNING") \
                        and time.time() < deadline:
                    time.sleep(0.05)
                    info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            sp.jobs = len(ids)
            sp.stages = len(stage_ids)
            sp.tasks = sum(si.numTasks for si in
                           (st.getStageInfo(s) for s in stage_ids)
                           if si is not None)

    def write(self, path: str) -> str:
        """Write every span as one JSON line; returns the path."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")
        return path

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def self_seconds(self, sp: Span) -> float:
        return self_time(sp.start, sp.end,
                         [(c.start, c.end) for c in self.children(sp)])

    def total(self, sp: Span, attr: str) -> int:
        """A job counter summed over a span and all its descendants."""
        out, todo = 0, [sp]
        while todo:
            cur = todo.pop()
            out += getattr(cur, attr)
            todo.extend(self.children(cur))
        return out

    def coverage(self, start: float, end: float) -> float:
        """Share of [start, end] covered by top-level spans."""
        tops = [(max(s.start, start), min(s.end, end)) for s in self.spans
                if s.parent is None and min(s.end, end) > max(s.start, start)]
        return union_length(tops) / (end - start) if end > start else 0.0
