"""The benchmark's own arithmetic: percentiles, freshness, span self
time and failure accounting. Pure Python, unit-tested in
``perfbench/tests``."""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, q: float = 0.95, min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """``(q_used, value)``: the requested tail percentile, lowered until
    at least ``min_beyond`` samples lie beyond it, and never below the
    median."""
    n = len(values)
    if n == 0:
        raise ValueError("percentile of no samples")
    q_used = max(0.5, min(q, 1.0 - min_beyond / n))
    return q_used, percentile(values, q_used)


def median(values) -> float:
    return percentile(values, 0.5)


# -- streaming progress -> commits -> freshness ---------------------------

@dataclass(frozen=True)
class Commit:
    batch_id: int
    rows: int  # numInputRows of this batch
    cum_rows: int  # rows committed up to and including this batch
    end: float  # wall-clock commit time (epoch seconds)


def _epoch(ts: str) -> float:
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def commits_from_progress(events) -> list[Commit]:
    """Committed batches from ``StreamingQueryProgress`` dicts.

    Each batch is taken once, in batch order, whatever order or how
    often it was observed; idle progress events (no ``addBatch``)
    commit nothing. A batch's commit time is its own trigger start
    plus its trigger duration, never the time it was observed."""
    by_id: dict[int, dict] = {}
    for e in events:
        if "addBatch" not in (e.get("durationMs") or {}):
            continue
        by_id.setdefault(int(e["batchId"]), e)
    out, cum = [], 0
    for bid in sorted(by_id):
        e = by_id[bid]
        rows = int(e.get("numInputRows") or 0)
        cum += rows
        end = _epoch(e["timestamp"]) + e["durationMs"]["triggerExecution"] / 1000.0
        out.append(Commit(bid, rows, cum, end))
    return out


def group_commit_times(group_cum_rows, commits: list[Commit], baseline_rows: int) -> list[float | None]:
    """Commit time of each send group: the first batch whose cumulative
    input rows cover the group's last line. ``group_cum_rows[g]`` counts
    the lines sent up to and including group ``g``; ``baseline_rows``
    is what the stream had committed before the first group. None =
    not committed."""
    out: list[float | None] = []
    j = 0
    for need in group_cum_rows:
        target = baseline_rows + need
        while j < len(commits) and commits[j].cum_rows < target:
            j += 1
        out.append(commits[j].end if j < len(commits) else None)
    return out


def freshness(dues, commit_times) -> tuple[list[float], int]:
    """Per-group freshness (commit time minus due time) for committed
    groups, and the number of uncommitted groups."""
    fresh, missing = [], 0
    for due, c in zip(dues, commit_times):
        if c is None:
            missing += 1
        else:
            fresh.append(c - due)
    return fresh, missing


# -- spans ------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A span opened inside another on the
    same thread is its child and shares its trace id. Disabled, it
    records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        span_id = next(self._ids)
        s = Span(
            name, time.time(), 0.0, span_id,
            parent.span_id if parent else None,
            parent.trace_id if parent else span_id,
            attrs,
        )
        stack.append(s)
        try:
            yield attrs
        finally:
            stack.pop()
            s.end = time.time()
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        own = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": own[s.span_id]}, default=str) + "\n")


def _covered(intervals) -> float:
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


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover
    (overlapping children count once; children are clipped to the
    parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(s.parent, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.span_id: s.duration - _covered([iv for iv in kids.get(s.span_id, []) if iv[1] > iv[0]])
        for s in spans
    }


# -- failure accounting -------------------------------------------------------

class Ledger:
    """Attempted and failed operations per kind. A failure is anything
    the user would see go wrong: an error, a timeout, a wrong result, a
    send group never committed."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}

    def add(self, kind: str, attempted: int = 1, failed: int = 0) -> None:
        if failed > attempted:
            raise ValueError("more failures than attempts")
        self.attempted[kind] = self.attempted.get(kind, 0) + attempted
        self.failed[kind] = self.failed.get(kind, 0) + failed

    def total(self) -> tuple[int, int]:
        return sum(self.attempted.values()), sum(self.failed.values())

    def ratio(self) -> float:
        a, f = self.total()
        return f / a if a else 0.0
