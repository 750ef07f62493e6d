"""Traced mode: spans recorded from the benchmark's own files around
calls into the program's public functions, a StreamingQueryListener
for per-trigger durations, and scheduler counts per operation.

Spans carry name, start, end, parent and op id; they are kept in
memory and written out when the run ends.  Wrappers are installed on
module and class attributes, so every caller inside the program that
looks the function up at call time (the sink's compaction call, the
drain's sink builder) is traced as well.  A wrapper records nothing
while the tracer is disabled, which lets a traced run interleave
untraced operations and report the tracing overhead from one run."""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def _open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.op))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        # Spans close in LIFO order: the program calls back into traced
        # functions only from inside the call that is waiting for them.
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()

    def traced(self, fn, name: str, on_result=None):
        """fn wrapped to record a span per call; on_result, if given,
        maps the return value (used to wrap returned callbacks)."""
        tracer = self

        @functools.wraps(fn)
        def call(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            return on_result(out) if on_result else out
        return call

    def wrap(self, owner: object, attr: str, name: str, on_result=None):
        """Replace owner.attr with a span-recording wrapper."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.traced(orig, name, on_result))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -------------------------------------------------------- summaries
    def durations_ms(self, name: str) -> list[float]:
        return [1000 * (s.end - s.start) for s in self.spans
                if s.name == name]

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it covered
        by child spans (children of one parent never overlap: the
        program is driven from one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + 1000 * (
                s.end - s.start - child[i])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# ------------------------------------------------- streaming progress

PROGRESS_KEYS = {
    "triggerExecution": "trigger_ms", "addBatch": "add_batch_ms",
    "latestOffset": "latest_offset_ms",
    "queryPlanning": "query_planning_ms", "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms"}


def progress_listener(sink: list):
    """A StreamingQueryListener appending (durationMs, input rows) of
    every progress event to sink."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append((dict(p.durationMs), int(p.numInputRows)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# ------------------------------------------------------ scheduler

class SchedulerCounts:
    """Jobs, stages and tasks run by one operation.  Jobs are counted
    by the change in the highest job id, because the status tracker
    retains only the newest jobs; stages and tasks come from the
    retained job and stage records of exactly those jobs, read after
    the listener bus has delivered every event."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _flush(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def high(self) -> int:
        self._flush()
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def since(self, high: int) -> tuple[int, int, int]:
        now = self.high()
        stages: set[int] = set()
        for j in range(high + 1, now + 1):
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = tasks = 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                ran += 1
                tasks += st.numCompletedTasks
        return now - high, ran, tasks


def gc_ms(spark) -> float:
    """Accumulated JVM garbage-collection time over all collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime()
                     for b in mf.getGarbageCollectorMXBeans()))
