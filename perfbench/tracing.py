"""Spans around calls into the engine's layers, kept in memory.

A span has a name, start, end, parent span and query id. A span opened
with ``jobs=True`` runs its call under its own Spark job group and, when
it closes, reads the group's jobs, stages and tasks from the status
tracker (the pattern of ``tests/test_graph_ann.py``). The tracer times
its own bookkeeping, so a traced run reports its overhead.

``NullTracer`` is the untraced run: the same call sites, no work.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name, qid=None, jobs=False):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.overhead_s = 0.0
        self.failed_tasks = 0

    @contextmanager
    def span(self, name, qid=None, jobs=False):
        t0 = time.perf_counter()
        rec = {"name": name, "qid": qid, "parent": self.stack[-1] if self.stack else None}
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        group = f"perfbench-{uuid.uuid4().hex}" if jobs else None
        if group:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if group:
                self.sc.setJobGroup(None, None)
                self._count(rec, group)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _count(self, rec, group):
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                self.failed_tasks += st.numFailedTasks
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def of(self, name, since=0):
        """Closed spans called ``name``, from index ``since`` on."""
        return [s for s in self.spans[since:] if s["name"] == name and "end" in s]

    def write(self, path):
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
