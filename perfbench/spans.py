"""Spans around the engine's layers, recorded from outside the program.

`Tracer.wrap` replaces a public function or method with one that records a
span (name, layer, start, end, parent, op id) while an operation is open.
The benchmark opens one root span per top-level operation (`Tracer.op`),
so every span of one request shares its op id. Spans stay in memory and
are written out when the run ends.

A span's self time is its duration minus the part of it that its child
spans cover, so the self times of one operation's spans add up to the
operation's wall time.

`SparkCounters` reads Spark's status store for the jobs of one job group:
the benchmark gives every traced operation its own group.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from stats import clip, union_length


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._ops = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        """One span; recorded only inside an open operation."""
        if self._op is None:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op, "start": 0.0, "end": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, name: str):
        """Root span of one top-level operation; yields its op id."""
        self._ops += 1
        self._op = self._ops
        try:
            with self.span(name, "client") as rec:
                yield rec
        finally:
            self._op = None

    def wrap(self, owner, attr: str, name: str, layer: str, on_result=None) -> None:
        """Record a span around `owner.attr`. `on_result(span, result,
        args)` may annotate the span with what the call returned."""
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._op is None:
                return fn(*args, **kwargs)
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out, args)
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the time covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clip(children[s["id"]], s["start"], s["end"]))
        for s in spans
    }


class SparkCounters:
    """Per-job-group totals from Spark's in-process status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def read(self, group: str, t0_ms: float, t1_ms: float) -> dict:
        """Totals over the group's jobs; `driver_gap_ms` is the window
        [t0_ms, t1_ms] (epoch ms) minus the union of the job intervals."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
             "shuffle_write_bytes", "shuffle_fetch_wait_ms"), 0.0
        )
        intervals = []
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["task_run_ms"] += st.executorRunTime()
                out["task_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_fetch_wait_ms"] += st.shuffleFetchWaitTime()
        covered = union_length(clip(intervals, t0_ms, t1_ms))
        out["driver_gap_ms"] = max(0.0, (t1_ms - t0_ms) - covered)
        return out

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
