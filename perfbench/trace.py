"""Spans around the calls the benchmark makes into each layer.

Spans live in memory and are written once, when the run ends. A span
is ``(id, parent, layer, name, start, end)``; its parent is the span
open on the same thread when it started. Micro-batch spans come from
Spark's public ``StreamingQueryProgress`` and are added after the fact,
with one child span per reported phase.

Nothing here is installed unless the run asks for a trace, so untraced
runs execute the program's own code paths unchanged.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict

# progress phases in the order MicroBatchExecution runs them
BATCH_PHASES = (
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, layer: str, name: str, start: float, end: float, parent: int | None = None) -> int:
        sid = next(self._ids)
        with self._lock:
            self.spans.append({
                "id": sid, "parent": parent, "layer": layer, "name": name,
                "start": start, "end": end,
            })
        return sid

    def wrap(self, layer: str, fn, count: str | None = None, errors: str | None = None):
        """``fn`` with a span per call; ``count``/``errors`` name counters
        bumped per call and per raised exception."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else None
            sid = next(self._ids)
            stack.append(sid)
            start = time.time()
            try:
                return fn(*args, **kwargs)
            except Exception:
                if errors:
                    with self._lock:
                        self.counts[errors] += 1
                raise
            finally:
                end = time.time()
                stack.pop()
                with self._lock:
                    self.spans.append({
                        "id": sid, "parent": parent, "layer": layer,
                        "name": fn.__name__, "start": start, "end": end,
                    })
                    if count:
                        self.counts[count] += 1

        return traced

    def add_progress(self, p: dict) -> None:
        """One micro-batch span from a progress JSON, with its phases
        laid end to end from the trigger start."""
        start = iso_s(p["timestamp"])
        dur = p.get("durationMs") or {}
        total = dur.get("triggerExecution", 0) / 1000.0
        sid = self.add("core", f"{p.get('name')}#{p.get('batchId')}", start, start + total)
        t = start
        for phase in BATCH_PHASES:
            if phase in dur:
                d = dur[phase] / 1000.0
                self.add("core", phase, t, t + d, parent=sid)
                t += d

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


def iso_s(ts: str) -> float:
    """Seconds since the epoch of a progress record's ISO timestamp."""
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer not covered by that span's child spans.

    Children are clipped to their parent and overlapping children are
    merged, so concurrent children are not subtracted twice."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one traced call around a no-op, in seconds."""
    t = Tracer()
    f = t.wrap("calib", lambda: None)
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    per = (time.perf_counter() - t0) / n
    t1 = time.perf_counter()
    for _ in range(n):
        (lambda: None)()
    return max(per - (time.perf_counter() - t1) / n, 0.0)
