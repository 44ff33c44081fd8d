"""In-memory spans around the benchmark's calls into each engine layer, with
Spark status-store counts for the jobs each span ran.

Each span sets a job group named after itself on the calling thread. The
engine also submits jobs from its own thread pools, which do not inherit
the group, so a span's jobs are taken as every job id the scheduler
allocated between the span's start and end. The benchmark is a single
client, so nothing else submits jobs meanwhile. The status store is read
after the listener bus drains; it works with the Spark UI off.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, query id, counts), kept in memory
    and written out by ``dump``. A disabled tracer records nothing and
    costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._next_job = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _drain(self) -> int:
        """Wait for the listener bus, then return one past the newest job id."""
        sc = self._sc
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        while sc.statusTracker().getJobInfo(self._next_job) is not None:
            self._next_job += 1
        return self._next_job

    def _counts(self, first_job: int, end_job: int) -> dict:
        sc = self._sc
        store = sc._jsc.sc().statusStore()
        c = {"jobs": 0, "stages": 0, "tasks": 0, "exec_run_ms": 0,
             "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0}
        for j in range(first_job, end_job):
            info = sc.statusTracker().getJobInfo(j)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in list(info.stageIds):
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["exec_run_ms"] += sd.executorRunTime()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c

    @contextmanager
    def span(self, name: str, qid: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
               "qid": qid, **attrs}
        if self._sc is not None:
            rec["first_job"] = self._drain()
            self._sc.setJobGroup(f"perfbench.{name}.{rec['id']}", name)
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                group = f"perfbench.{parent['name']}.{parent['id']}" if parent else None
                self._sc.setLocalProperty("spark.jobGroup.id", group)
                if "first_job" in rec:
                    rec.update(self._counts(rec["first_job"], self._drain()))
            self.overhead_s += time.perf_counter() - rec["end"]

    @contextmanager
    def wrap(self, owner, attr: str, span: str | None = None, calls: list | None = None):
        """Until the block exits, route calls of ``owner.attr`` (a module
        function or a method) through a span named ``span`` and record their
        arguments in ``calls``; the original is restored afterwards. The
        engine's own code runs unchanged. A disabled tracer patches nothing."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)

        def wrapper(*a, **kw):
            if calls is not None:
                calls.append((a, kw))
            if span is None:
                return orig(*a, **kw)
            with self.span(span):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead_s}, f, indent=1)
