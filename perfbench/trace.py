"""Span recorder for the traced run.

Tracing is applied from outside the package: ``Recorder.install`` swaps
the public methods of the engine's classes (and a few module functions)
for wrappers that record one span per call.  A span is ``(id, parent,
op, name, start, end)``: ``parent`` is the innermost open span on the
same thread, ``op`` the id of the operation (an append cycle, a query, a
microbatch) the thread was working on.  Spans stay in memory; nothing is
written while the workload runs.

Self time is a span's duration minus the part of its interval covered by
its children.  Children on one thread nest and never overlap, but the
computation merges overlapping child intervals anyway, so a child that
fans work out to threads is not subtracted twice.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    sid: int
    parent: int | None
    op: str | None
    name: str
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: s.dur - covered(s.start, s.end, kids.get(s.sid, [])) for s in spans}


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- recording

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record one span.  Passing ``op`` starts a new operation on this
        thread: the span and everything under it carry that op id."""
        stack = self._stack()
        prev_op = getattr(self._tls, "op", None)
        op = prev_op if op is None else op
        self._tls.op = op
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, parent, op, name, t0, t1))
            self._tls.op = prev_op

    def _wrapped(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # ---------------------------------------------------------- install

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(orig, (staticmethod, classmethod)):
            return
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self._wrapped(name, orig))

    def wrap_class(self, cls: type, layer: str, extra: tuple[str, ...] = ()) -> None:
        """Wrap every public method defined on ``cls`` (plus ``extra``
        dunder names) as ``<layer>.<method>`` spans."""
        for attr, val in list(vars(cls).items()):
            if (attr.startswith("_") and attr not in extra) or not callable(val):
                continue
            self.wrap(cls, attr, f"{layer}.{attr.strip('_')}")

    def install(self) -> None:
        """Wrap the engine's storage, streaming and KV surfaces."""
        from elastic_stream_spark import client
        from elastic_stream_spark.catalog import StreamCatalog
        from elastic_stream_spark.kv import KVStore
        from elastic_stream_spark.log import StreamLog
        from elastic_stream_spark.streaming import sink, source

        self.wrap_class(client.Stream, "client")
        self.wrap_class(StreamLog, "log")
        self.wrap_class(StreamCatalog, "catalog")
        self.wrap_class(KVStore, "kv")
        self.wrap_class(sink.ExactlyOnceAppendSink, "streaming.sink", extra=("__call__",))
        self.wrap(source, "poll_fetch", "streaming.poll_fetch")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- summaries

    def by_name(self, ops: set[str] | None = None) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            if ops is None or s.op in ops:
                out[s.name].append(s)
        return out

    def self_by_name(self, ops: set[str] | None = None) -> dict[str, list[float]]:
        st = self_times(self.spans)
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if ops is None or s.op in ops:
                out[s.name].append(st[s.sid])
        return out

    def uncovered(self, ops: set[str]) -> list[tuple[float, float]]:
        """Per op in ``ops``: ``(self time, duration)`` of its root span
        (the span that started the op).  The root's self time is the
        part of the op's wall time that no traced call covers: the
        benchmark's own code between calls, lock and GIL waits, and the
        recorder's bookkeeping."""
        st = self_times(self.spans)
        return [(st[s.sid], s.dur) for s in self.spans if s.parent is None and s.op in ops]


@contextmanager
def job_group(spark, group: str):
    """Run the block's Spark jobs under job group ``group`` (this
    thread only), and clear the group afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def spark_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, stages) Spark ran under job group ``group``, read from the
    status tracker after the fact."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages
