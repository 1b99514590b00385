"""Spans and Spark job accounting, recorded from outside the program.

``Tracer`` keeps spans (name, start, end, parent, request id) in
memory and writes them as JSON lines at the end of a run. A disabled
tracer records nothing and costs one branch per span.

``JobCounter`` attributes Spark jobs to a call by job-id range: the
ids of jobs without a job group that appeared while the call ran. Job
groups are thread-local and the program runs some jobs from its own
thread pools, which inherit no group; an id range catches those too.
It is exact only while nothing else submits jobs, so callers use it
on sequential calls.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent or {}).get("rid"),
            "start": time.monotonic(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                out = dict(s)
                out["start"] = round(s["start"] - t0, 6)
                out["end"] = round(s["end"] - t0, 6)
                fh.write(json.dumps(out, default=str) + "\n")


class JobCounter:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _settle(self) -> None:
        # the status store is fed by the listener bus asynchronously
        from py4j.protocol import Py4JError

        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # bus still busy after 10 s: count what arrived
            time.sleep(0.2)

    def _ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextmanager
    def count(self):
        """-> dict filled on exit with jobs, stages and tasks run."""
        self._settle()
        before = self._ids()
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        try:
            yield out
        finally:
            self._settle()
            new = sorted(self._ids() - before)
            stages = set()
            for jid in new:
                info = self.tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            tasks, ran = 0, 0
            for sid in stages:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    ran += 1
                    tasks += st.numCompletedTasks
            out.update(jobs=len(new), stages=ran, tasks=tasks)
