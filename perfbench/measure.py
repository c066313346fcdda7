"""Measurement helpers: percentiles, spans with self time, peak RSS, and
Spark status-store counters.

None of this imports the engine package; the Spark helpers take a live
``SparkContext``.
"""

from __future__ import annotations

import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it.

    Returns ``(percentile, value, n)``: with ``n`` sorted samples the value
    is the ``n - 10``-th smallest, so exactly ten samples lie above it, and
    the percentile is ``100 * (n - 10) / n``.  Up to twenty samples that
    value would not lie above the median, so the maximum is returned as
    percentile 100 instead, and ``n`` shows how thin the tail is."""
    n = len(values)
    if n == 0:
        return 100.0, 0.0, 0
    ordered = sorted(values)
    if n <= 20:
        return 100.0, float(ordered[-1]), n
    return 100.0 * (n - 10) / n, float(ordered[n - 11]), n


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled tracers hand out a no-op context, so untraced runs pay one
    attribute check per call.  Spans nest per thread; ``record`` adds a
    span with known bounds (used for per-trigger streaming phases whose
    timing Spark reports after the fact)."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, time.perf_counter(), 0.0, stack[-1] if stack else None,
                      self.run_id, attrs)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def record(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, self.run_id, attrs))
        return sid

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
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
    """Per span: its duration minus the part of its interval covered by
    its children (children clipped to the parent's bounds; overlapping
    children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = (s.end - s.start) - _covered(kids)
    return out


def layer_self_times(spans: list[Span], layers: list[str]) -> dict[str, float]:
    """Sum of self time per layer; a span belongs to the longest layer
    name that prefixes its own name (``streaming.sinks.merge`` belongs to
    ``streaming.sinks``)."""
    st = self_times(spans)
    out = {layer: 0.0 for layer in layers}
    by_len = sorted(layers, key=len, reverse=True)
    for s in spans:
        for layer in by_len:
            if s.name == layer or s.name.startswith(layer + "."):
                out[layer] += st[s.id]
                break
    return out


# ---------------------------------------------------------------------------
# Peak RSS of the Spark driver
# ---------------------------------------------------------------------------


def peak_rss_mb(pid: int) -> float:
    """The kernel's resident-set high-water mark (``VmHWM``) of ``pid``.

    Used for the driver JVM, which holds the state stores, broadcast and
    shuffle buffers.  The Python workers are left out: how many of them are
    alive at once follows task scheduling, so their summed RSS moves by
    gigabytes between identical runs."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


@dataclass
class StageTotals:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def group_totals(sc, group: str) -> StageTotals:
    """Jobs, completed tasks, executor run time and shuffle/spill bytes of
    every job run under job group ``group`` (``sc.setJobGroup``), read from
    the status store (kept with the UI disabled)."""
    tracker = sc.statusTracker()
    out = StageTotals()
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out.jobs += 1
        stage_ids.update(info.stageIds)
    if not stage_ids:
        return out
    store = sc._jsc.sc().statusStore()
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage skipped or evicted
            continue
        out.tasks += st.numCompleteTasks()
        out.run_s += st.executorRunTime() / 1000.0
        out.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
        out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
