"""Outside-in tracing for the benchmark's traced run.

Spans wrap the program's public calls.  Calls the benchmark makes itself
are wrapped at the call site; calls the program makes internally are wrapped
by patching the name where the caller looks it up (``cdc.replay`` imports
``apply_batch`` by name, ``LakeTable`` methods are looked up on the class).

Each span runs its Spark jobs under its own job group.  After the run, the
listener bus is drained once and every span's jobs are read from Spark's
status store (job -> stages -> task time, CPU, shuffle bytes).  Spans live
in memory until :meth:`Tracer.resolve`; the caller writes them to one file.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        gid = f"perfbench-{len(self.spans) + len(self._stack)}-{time.monotonic_ns()}"
        rec = {
            "id": gid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.monotonic(),
            "attrs": {},
        }
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, gid)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            rec["end"] = time.monotonic()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper; ``on_result(rec,
        result)`` may copy counts from the call's return value."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def resolve(self) -> None:
        """Attach Spark job/stage totals to every span (own jobs only; use
        :func:`inclusive` for a span plus its descendants)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            rec["spark"] = dict(jobs=0, stages=0, tasks=0, task_s=0.0, cpu_s=0.0,
                                gc_s=0.0, shuffle_read=0, shuffle_write=0, input=0)
        jobs = sorted(
            (jid, i) for i, rec in enumerate(self.spans)
            for jid in tracker.getJobIdsForGroup(rec["id"])
        )
        # a later job lists the shuffle stages it reuses: count each stage
        # once, under the first job that lists it
        counted: set = set()
        for jid, i in jobs:
            tot = self.spans[i]["spark"]
            tot["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in counted:
                    continue
                counted.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage never ran (skipped)
                    continue
                if sd.numCompleteTasks() == 0:
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["task_s"] += sd.executorRunTime() / 1e3
                tot["cpu_s"] += sd.executorCpuTime() / 1e9
                tot["gc_s"] += sd.jvmGcTime() / 1e3
                tot["shuffle_read"] += sd.shuffleReadBytes()
                tot["shuffle_write"] += sd.shuffleWriteBytes()
                tot["input"] += sd.inputBytes()


def inclusive(spans: list[dict], root: dict) -> dict:
    """Spark totals of ``root`` plus all its descendant spans."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = dict(root["spark"])
    todo = list(kids.get(root["id"], []))
    while todo:
        s = todo.pop()
        for k, v in s["spark"].items():
            out[k] += v
        todo.extend(kids.get(s["id"], []))
    return out
