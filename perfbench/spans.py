"""Spans and counters recorded from outside the program.

The benchmark never edits the package: in a traced run it replaces
references to chosen public functions, in every package module that holds
one, with a wrapper that records a span around the call, and restores the
originals at the end. Spans live in memory (name, start, end, parent, op
id) and are summarised when the run ends; a layer's self time is its span
duration minus the part of it covered by its child spans.

Tracing is switched on per operation (``Tracer.op``), so one traced run can
alternate traced and untraced operations and report the tracing overhead
as the difference of their medians.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "airbnb_listings_data_pipelines_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.traced_ops = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        # threads the program starts itself (run_pipeline's writer pool)
        # carry no op of their own: their spans and ungrouped Spark jobs
        # belong to the traced op that is running, if exactly one is
        self._running: dict[str, int] = {}

    # ------------------------------------------------------------ spans

    def _context(self) -> tuple[str | None, list[int] | None]:
        """(op id, span stack) for spans opened on this thread."""
        loc = self._local
        if getattr(loc, "client", False):
            return getattr(loc, "op", None), getattr(loc, "stack", None)
        with self._lock:
            if len(self._running) == 1:
                op, root = next(iter(self._running.items()))
                st = getattr(loc, "stack", None)
                if st is None or getattr(loc, "stack_op", None) != op:
                    st = loc.stack = [root]
                    loc.stack_op = op
                return op, st
        return None, None

    @contextmanager
    def span(self, name: str):
        op, stack = self._context()
        if op is None:
            yield
            return
        s = Span(name, time.perf_counter(), parent=stack[-1], op=op)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
            self.spans[stack[-1]].children.append(idx)
        stack.append(idx)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def op(self, op_id: str, kind: str, traced: bool):
        """One benchmark operation on the calling (client) thread. Every op
        runs under its own Spark job group; only traced ops record spans
        and count their Spark jobs."""
        sc = self.spark.sparkContext
        loc = self._local
        loc.client = True
        sc.setJobGroup(op_id, kind)
        before = set(sc.statusTracker().getJobIdsForGroup(None)) if traced else set()
        root = Span(f"op.{kind}", time.perf_counter(), op=op_id)
        if traced:
            with self._lock:
                loc.stack = [len(self.spans)]
                self.spans.append(root)
                self._running[op_id] = loc.stack[0]
            loc.op = op_id
        try:
            yield
        finally:
            root.end = time.perf_counter()
            loc.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            if traced:
                with self._lock:
                    self._running.pop(op_id, None)
                    self.traced_ops += 1
                tracker = sc.statusTracker()
                jobs = set(tracker.getJobIdsForGroup(op_id))
                jobs |= set(tracker.getJobIdsForGroup(None)) - before
                self._count_jobs(sc, jobs)

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += value

    def _count_jobs(self, sc, job_ids: set[int]) -> None:
        """Jobs, stages, tasks and failed tasks of one operation (public
        status tracker), and the wall time during which any of its jobs ran
        (job submission/completion times from the status store)."""
        tracker = sc.statusTracker()
        stages = tasks = failed = 0
        intervals = []
        store = sc._jsc.sc().statusStore()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue  # skipped (reused shuffle output) or evicted
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
            try:
                jd = store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
            except Exception:  # noqa: BLE001 — the status store is not a public API
                pass
        with self._lock:
            self.counts["spark.jobs"] += len(job_ids)
            self.counts["spark.stages"] += stages
            self.counts["spark.tasks"] += tasks
            self.counts["spark.failed_tasks"] += failed
            self.counts["spark.exec_ms"] += union_length(intervals)

    # ------------------------------------------------------------ wrapping

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap(self, fn, name: str) -> None:
        """Replace every reference to ``fn`` held by a package module (as a
        module attribute) with a span-recording wrapper."""
        traced = self._wrapper(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)
                    self._patched.append((mod, attr, fn))

    def wrap_method(self, cls, method: str, name: str) -> None:
        fn = getattr(cls, method)
        setattr(cls, method, self._wrapper(fn, name))
        self._patched.append((cls, method, fn))

    def restore(self) -> None:
        for obj, attr, fn in reversed(self._patched):
            setattr(obj, attr, fn)
        self._patched.clear()

    # ------------------------------------------------------------ summary

    def self_times(self) -> list[tuple[Span, float]]:
        """Every span with its self time in ms."""
        out = []
        for s in self.spans:
            kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
            clipped = [
                (max(a, s.start), min(b, s.end)) for a, b in kids if b > s.start and a < s.end
            ]
            out.append((s, ((s.end - s.start) - union_length(clipped)) * 1000.0))
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
