"""Span tracing of the engine's layers, from outside the engine.

The tracer wraps public layer functions (``module.attr``) with a span
recorder; the engine's own files are never edited. A span records its
name, start, end, parent and op id, and tags every Spark job started
while it is the innermost open span with a job group of its own, so
``SparkContext.statusTracker()`` attributes jobs, stages and tasks to
exactly one span. Spans stay in memory and are written out at exit.

Layer = the span name up to the first dot (``graph.call`` → ``graph``).
A layer's self time is its spans' durations minus their children's.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "jobs", "stages",
                 "tasks", "failed_tasks")

    def __init__(self, sid: int, name: str, parent: int | None, op: int | None):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start = time.perf_counter()
        self.end = self.start
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    """Records spans while ``active``; wrapped functions call straight
    through when it is not, so one process can interleave traced and
    untraced ops and measure the tracing overhead."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._resolved = 0

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def resolve_new(self) -> None:
        """Fill job/stage/task counts of the spans recorded since the
        last call from the status tracker. Call right after each op,
        before old jobs age out of Spark's retained history. Stages that
        never ran a task (skipped because their shuffle output was
        reused) are not counted."""
        st = self.sc.statusTracker()
        new, self._resolved = self.spans[self._resolved:], len(self.spans)
        for s in new:
            for jid in st.getJobIdsForGroup(f"perfbench-{s.sid}"):
                job = st.getJobInfo(jid)
                if job is None:
                    continue
                s.jobs += 1
                for sid in job.stageIds:
                    info = st.getStageInfo(sid)
                    if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                        continue
                    s.stages += 1
                    s.tasks += info.numTasks
                    s.failed_tasks += info.numFailedTasks

    def self_ms_by_layer(self) -> dict[str, float]:
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + s.ms - child_ms.get(s.sid, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")
            fh.write(json.dumps({"self_ms_by_layer": self.self_ms_by_layer()}) + "\n")


def inclusive(spans: list[Span], root: Span, field: str) -> int:
    """Sum of ``field`` over ``root`` and all its descendants."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    total, todo = 0, [root]
    while todo:
        s = todo.pop()
        total += getattr(s, field)
        todo.extend(kids.get(s.sid, ()))
    return total


def scan_rows(df) -> int:
    """Rows output by the leaf scans of ``df``'s executed physical plan
    (parquet, checkpointed-RDD and in-memory scans), read from the SQL
    metrics after the plan ran. Adaptive plans are followed into their
    final stages."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        children = node.children()
        if children.isEmpty() and "Scan" in cls:
            metrics = node.metrics()
            if metrics.contains("numOutputRows"):
                total += int(metrics.apply("numOutputRows").value())
            continue
        it = children.iterator()
        while it.hasNext():
            todo.append(it.next())
    return total
