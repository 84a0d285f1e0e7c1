"""Spans and Spark job counts, recorded from outside the program.

A span is one timed interval at a layer boundary: name, layer, start, end,
the span that encloses it, and the run id.  Spans stay in memory and are
written out once, when the run ends.  Job, stage and task counts come from
``SparkContext.statusTracker()``: each traced call runs under its own job
group and the counts are read right after it returns, because the tracker
keeps only recent jobs.

With tracing off, :meth:`Tracer.span` and :meth:`Tracer.call` time nothing
and set no job group, so untraced runs measure the program alone.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def call(self, name: str, layer: str):
        """Span plus job group; yields a dict that receives the counts."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        group = f"{self.run_id}-{next(self._groups)}"
        self.sc.setJobGroup(group, name)
        try:
            with self.span(name, layer):
                yield counts
        finally:
            self.sc.setJobGroup(None, None)
            counts.update(self.group_counts(group))

    def group_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None:  # skipped stage: planned, never run
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span (children of one
        span never overlap: every call here is sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self) -> list[dict]:
        if not self.spans:
            return []
        t0 = self.spans[0]["start"]
        return [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
