"""Small, dependency-free statistics shared by the benchmark processes."""

from __future__ import annotations

import math


def pctl(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..1); 0.0 for no values."""
    vals = sorted(values)
    if not vals:
        return 0.0
    return vals[max(0, min(len(vals) - 1, math.ceil(q * len(vals)) - 1))]


def median(values) -> float:
    vals = sorted(values)
    if not vals:
        return 0.0
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def due_latencies(
    file_dues: dict[str, list[float]],
    file_batch: dict[str, int],
    batch_commit: dict[int, float],
) -> list[float]:
    """Latency of every event: commit time of the micro-batch that read
    its file minus the time the open-loop schedule said it was due.

    Counting from the due time, not the send time, charges a stalled
    generator's delay to the events queued behind the stall. An event
    whose file no committed batch read is missing from the result."""
    out: list[float] = []
    for path, dues in file_dues.items():
        b = file_batch.get(path)
        if b is None or b not in batch_commit:
            continue
        c = batch_commit[b]
        out.extend(c - d for d in dues)
    return out


def backlog_series(acks: list[float], commits: list[tuple[float, int]]) -> list[int]:
    """Acknowledged events not yet committed, sampled just before each
    commit. ``acks`` holds one ack time per event; ``commits`` holds
    ``(commit_time, events_in_batch)``."""
    acks = sorted(acks)
    out = []
    done = i = 0
    for t, n in sorted(commits):
        while i < len(acks) and acks[i] <= t:
            i += 1
        out.append(i - done)
        done += n
    return out


def cpu_times() -> tuple[int, int, int]:
    """(steal, busy, total) jiffies from the first /proc/stat line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    return steal, sum(v) - idle - steal, sum(v)


def steal_pct(t0: tuple[int, int, int], t1: tuple[int, int, int]) -> float:
    """Share of all CPU time the hypervisor stole between two readings."""
    total = t1[2] - t0[2]
    return 100.0 * (t1[0] - t0[0]) / total if total else 0.0


def passes_to_report(steals: list[float], want: int, max_steal: float, time_up: bool) -> list[int] | None:
    """Indices, in pass order, of the ``want`` passes with the least
    steal, once ``want`` passes ran with at most ``max_steal`` % steal,
    or once ``time_up`` and at least ``want`` passes ran; None while
    another pass should run."""
    clean = sum(1 for s in steals if s <= max_steal)
    if len(steals) < want or (clean < want and not time_up):
        return None
    return sorted(sorted(range(len(steals)), key=steals.__getitem__)[:want])
