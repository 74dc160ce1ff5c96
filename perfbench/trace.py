"""In-memory spans and per-call Spark job counts, recorded from outside
the engine.

A span is (name, start, end, parent, request id). Spark work is
attributed through the public job-group API: each traced call runs under
a fresh ``SparkContext.setJobGroup`` id, and ``statusTracker()`` then
gives the jobs, stages and tasks that ran under it. Jobs that Spark
starts under its own group (a streaming query's micro-batches) are not
counted.

With tracing off every method is a no-op, so the untraced run pays only
a function call per boundary.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        """Time ``name``; the yielded dict receives its Spark counts
        (``jobs``/``stages``/``tasks``) and its duration (``s``)."""
        rec: dict = {}
        if not self.enabled:
            yield rec
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec.update(id=sid, name=name, parent=parent, request=request)
        self.spans.append(rec)
        group = f"perfbench-{sid}"
        self._stack.append(sid)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"perfbench-{outer}", self.spans[outer]["name"])
            rec.update(self._spark_counts(group))

    def _spark_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for st in info.stageIds:
                sinfo = tracker.getStageInfo(st)
                ran = sinfo.numCompletedTasks + sinfo.numFailedTasks if sinfo else 0
                if ran:
                    stages += 1
                    tasks += ran
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def total(self, rec: dict, key: str) -> float:
        """``rec``'s own ``key`` plus that of every span nested in it
        (job counts of a parent exclude its children's groups)."""
        if not rec:
            return 0
        kids = [s for s in self.spans if s.get("parent") == rec["id"]]
        return rec.get(key, 0) + sum(self.total(k, key) for k in kids)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
