"""Spans and per-span Spark figures for the traced run.

Nothing inside the engine package is instrumented. The tracer wraps the
public functions of a module (``catalog.load``, ``pipeline.write_csv``,
...) from the outside for the length of a traced run, and the
benchmark opens the op-level spans itself. Every span gets its own
Spark job group, so the jobs, stages and tasks it fired can be read
back from the status store once the op is over; the Spark UI stays
disabled.

Spans are kept in memory and written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """Collects spans ``{id, op, name, parent, start, end, jobs}``.

    ``enabled=False`` gives the untraced twin: ``span`` is a no-op and
    ``wrap`` leaves the module alone, so one code path serves both."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._undo: list = []
        self._pending: list[dict] = []
        self._thread = threading.get_ident()
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "op": f"{sid}:{op}" if parent is None else parent["op"],
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{sid}",
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self._pending.append(rec)

    def wrap(self, module, fname: str, span_name: str) -> None:
        """Replace ``module.fname`` with a version that opens a span
        while an op is running; :meth:`unwrap_all` restores it."""
        if not self.enabled:
            return
        orig = getattr(module, fname)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            # only calls made by the client thread inside an op; the
            # streaming query's own thread is never traced
            if not self._stack or threading.get_ident() != self._thread:
                return orig(*args, **kwargs)
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(module, fname, traced)
        self._undo.append((module, fname, orig))

    def unwrap_all(self) -> None:
        for module, fname, orig in reversed(self._undo):
            setattr(module, fname, orig)
        self._undo.clear()

    def attach_jobs(self) -> None:
        """Once an op is over, read the job ids of its spans from their
        job groups and the stage figures of those jobs from the status
        store. A span that already holds ``jobs`` keeps them."""
        if not self.enabled:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        spans, self._pending = self._pending, []
        for s in spans:
            if "jobs" not in s:
                s["jobs"] = sorted(tracker.getJobIdsForGroup(s["group"]))
            s["stages"] = stage_figures(self.sc, s["jobs"])

    def write(self, path: str) -> None:
        """One JSON span per line; start / end in seconds since the
        tracer was created."""
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                rel = {"start": s["start"] - self._t0, "end": s["end"] - self._t0}
                f.write(json.dumps({**s, **rel}) + "\n")


def stage_figures(sc, job_ids: list[int]) -> list[dict]:
    """Per-stage figures of the stages the given jobs ran (stages a job
    skipped because their shuffle output was reused are left out)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    seen: set[int] = set()
    out = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tasks = store.taskList(sid, sd.attemptId(), 100_000)
            run_ms = []
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined():
                    run_ms.append(m.get().executorRunTime())
            out.append({
                "stage": sid,
                "tasks": int(sd.numTasks()),
                "run_ms": int(sd.executorRunTime()),
                "gc_ms": int(sd.jvmGcTime()),
                "input_bytes": int(sd.inputBytes()),
                "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                "spill_bytes": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
                "skew": (max(run_ms) / max(statistics.median(run_ms), 1.0)) if run_ms else 1.0,
            })
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the time its child
    spans cover (children of one span never overlap: a single client
    runs one call at a time)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_time.get(s["id"], 0.0) for s in spans}
