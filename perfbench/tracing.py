"""Tracing for the benchmark's per-layer run.

Nothing inside the package is instrumented: :class:`Tracer` wraps the
public functions of the layers from outside (module attributes and every
``from X import f`` binding of them inside the package, plus the public
methods of ``LakehouseTable``). Spans are kept in memory as
``(id, name, start, end, parent, run_id)`` and written out when the run
ends; a layer's self time is a span's duration minus the part of it
that its child spans cover.

Spark's own work is counted through job ids (:class:`JobCounter`) and
Structured Streaming progress through :class:`ProgressListener`.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass

#: wrapped modules → layer name used in span names
FUNCTION_LAYERS = {
    "football_lakehouse_spark.catalog": "catalog",
    "football_lakehouse_spark.operators.dedup": "operators.dedup",
    "football_lakehouse_spark.operators.similarity": "operators.similarity",
    "football_lakehouse_spark.operators.bpe": "operators.bpe",
    "football_lakehouse_spark.pipelines.medallion": "pipelines.medallion",
    "football_lakehouse_spark.pipelines.continuous": "pipelines.continuous",
}
TABLE_CLASS = ("football_lakehouse_spark.lakehouse.tables", "LakehouseTable")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Collects spans while :attr:`enabled`; wrappers cost one attribute
    check when it is off, so traced and untraced ops share one code path."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        """Record one span and yield its id (None while disabled). A
        ``root`` span (one benchmark op) becomes the parent of spans opened
        on other threads with an empty stack, such as the streaming
        ``foreachBatch`` callback."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append(sid)
        if root:
            self._root = sid
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if root:
                self._root = None
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # ------------------------------------------------------------- patching
    def install(self) -> None:
        """Wrap every public function of the traced modules, rebinding each
        name in every loaded package module that imported it, and every
        public method of ``LakehouseTable``."""
        wrappers: dict[int, object] = {}
        for mod_name, layer in FUNCTION_LAYERS.items():
            mod = importlib.import_module(mod_name)
            for attr, fn in vars(mod).items():
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod_name):
                    continue
                wrappers[id(fn)] = self._wrap(fn, f"{layer}.{attr}")
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("football_lakehouse_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, w)
        cls = getattr(importlib.import_module(TABLE_CLASS[0]), TABLE_CLASS[1])
        for attr, fn in list(vars(cls).items()):
            if attr.startswith("_") or not inspect.isfunction(fn):
                continue
            self._patched.append((cls, attr, fn))
            setattr(cls, attr, self._wrap(fn, f"lakehouse.{attr}"))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------------------- analysis
    def self_times(self, root: int) -> dict[str, tuple[float, float, int]]:
        """``name → (self seconds, inclusive seconds, calls)`` over the
        spans below root span ``root`` (the root itself excluded)."""
        children: dict[int | None, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out: dict[str, tuple[float, float, int]] = {}
        todo = list(children.get(root, []))
        while todo:
            s = todo.pop()
            kids = children.get(s.id, [])
            todo.extend(kids)
            covered = _union_length([(k.start, k.end) for k in kids], s.start, s.end)
            own, incl, calls = out.get(s.name, (0.0, 0.0, 0))
            out[s.name] = (own + (s.end - s.start) - covered,
                           incl + (s.end - s.start), calls + 1)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class JobCounter:
    """Counts Spark jobs and tasks run between two points. Job ids are
    allocated in order by the scheduler, so the jobs of an op are the id
    range taken across it; task counts are resolved after the listener
    bus has drained, from the status tracker."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def mark(self) -> int:
        return int(self._dag.nextJobId())

    def resolve(self, ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
        """``(jobs, completed tasks)`` for each ``[first, end)`` job range."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        out = []
        for first, end in ranges:
            tasks = 0
            for job in range(first, end):
                info = tracker.getJobInfo(job)
                for stage in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(stage)
                    tasks += st.numCompletedTasks if st else 0
            out.append((end - first, tasks))
        return out


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report and
    counts terminated queries (imported lazily: pyspark is not loaded
    until the timed import)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = 0
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._cv:
                self.progress.append({
                    "durationMs": dict(p.durationMs),
                    "numInputRows": int(p.numInputRows),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated += 1
                self._cv.notify_all()

        def wait_terminated(self, count: int, timeout: float = 10.0) -> None:
            """Block until ``count`` queries have reported termination, so
            every progress event of a finished query has been delivered."""
            with self._cv:
                self._cv.wait_for(lambda: self.terminated >= count, timeout)

    return ProgressListener()
