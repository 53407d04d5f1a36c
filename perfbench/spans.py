"""Spans recorded from outside the program, and the arithmetic over them.

The traced run wraps public entry points of the sparkdb modules at run time
(``Tracer.patch``); nothing in the package changes. Each span records its
name, layer, start, end, parent and operation. Spans stay in memory and are
summarised when the run ends. A layer's self time is its spans' durations
minus the parts covered by their child spans, so over one operation the
self times of all layers plus the unattributed remainder add up to the
operation's wall time.

Spark's own work is read from the event log (``parse_event_log``): the
traced run tags every operation with a job group, and the log's job and
stage records carry the group, the stage ids and the stage metrics.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    id: int
    name: str
    layer: str | None  # None: glue that belongs to no layer
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. Spans nest per thread; a span opened on a
    thread with no open span (the REST server's handler thread) becomes a
    child of the innermost span open on the operation's own thread (the
    client's request, which waits for the handler)."""

    clock: object = time.time
    spans: list[Span] = field(default_factory=list)

    def __post_init__(self):
        #: op id -> counts measured inside that operation (rows rendered,
        #: bytes written, Catalyst phase times); None collects set-up work
        self.notes: dict[int | None, Counter] = defaultdict(Counter)
        #: called with the operation's root span when a thread opens its
        #: first span inside that operation (the traced run sets the Spark
        #: job group there)
        self.on_thread_entry = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._op: Span | None = None
        self._op_stack: list[Span] | None = None
        self._patches: list[tuple[object, str, object | None]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, layer: str | None):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # another thread working for the running operation: nest under
            # the span the operation's own thread is waiting in
            parent = self._op_stack[-1] if self._op_stack else None
            if parent is not None and self.on_thread_entry is not None:
                t0 = self.clock()
                self.on_thread_entry(self._op)
                self.add("trace.bookkeeping", "trace", t0, self.clock(), parent)
        sp = Span(
            next(self._ids), name, layer, self.clock(), 0.0,
            parent.id if parent else None,
            parent.op if parent else None,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def op(self, name: str, layer: str | None = None):
        """Root span of one timed operation."""
        with self.span(name, layer) as sp:
            sp.op = sp.id
            self._op, self._op_stack = sp, self._stack()
            try:
                yield sp
            finally:
                self._op, self._op_stack = None, None

    def note(self, sp: Span, key: str, value: float = 1) -> None:
        with self._lock:
            self.notes[sp.op][key] += value

    def add(self, name: str, layer: str | None, start: float, end: float, parent: Span) -> None:
        """Record a span measured elsewhere (Catalyst phases, Spark jobs)."""
        sp = Span(next(self._ids), name, layer, start, end, parent.id, parent.op)
        with self._lock:
            self.spans.append(sp)

    def patch(self, owner, attr: str, name: str, layer: str | None,
              before=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        each call. ``before(args)`` runs before the span opens and
        ``after(span, args, result[, state])`` once it has closed (``state``
        is what ``before`` returned, passed only when ``before`` is given).
        Both run inside spans of layer ``trace``, so their cost shows as
        tracing overhead."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            state = None
            if before is not None:
                with self.span("trace.bookkeeping", "trace"):
                    state = before(args)
            with self.span(name, layer) as sp:
                result = orig(*args, **kwargs)
            if after is not None:
                with self.span("trace.bookkeeping", "trace"):
                    if before is not None:
                        after(sp, args, result, state)
                    else:
                        after(sp, args, result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig if own else None))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if orig is None:
                delattr(owner, attr)  # the wrapper shadowed an inherited method
            else:
                setattr(owner, attr, orig)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Span id -> duration minus the union of its children's intervals,
    each clipped to the span."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids[s.id]
            if min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.id] = s.dur - _covered(clipped)
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Layer -> summed self time (seconds); glue spans go to
    ``unattributed``."""
    st = self_times(spans)
    out: Counter = Counter()
    for s in spans:
        out[s.layer or UNATTRIBUTED] += st[s.id]
    return dict(out)


def deepest_container(spans: list[Span], op: int, start: float, end: float) -> Span | None:
    """Innermost span of operation ``op`` whose interval holds the middle of
    ``[start, end]`` — where a Spark job measured by the event log ran."""
    mid = (start + end) / 2
    best = None
    for s in spans:
        if s.op == op and s.start <= mid <= s.end and (best is None or s.dur < best.dur):
            best = s
    return best


# -- Spark event log ------------------------------------------------------

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def parse_event_log(lines) -> tuple[dict[int, dict], dict[int, dict]]:
    """Jobs and completed stages from an uncompressed Spark event log.

    Returns ``(jobs, stages)``: ``jobs[job_id] = {"group", "start", "end",
    "stages"}`` with times in epoch seconds, and ``stages[stage_id] =
    {"tasks", "run_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes"}`` summed over attempts. Stages
    that a job listed but skipped have no entry."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(
                info["Stage ID"],
                {"tasks": 0, **{m: 0 for m in set(_STAGE_METRICS.values())}},
            )
            st["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables") or []:
                metric = _STAGE_METRICS.get(acc.get("Name"))
                if metric is not None:
                    st[metric] += int(acc.get("Value") or 0)
    return jobs, stages
