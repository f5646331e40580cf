"""The benchmark's arithmetic: progress events -> per-event latency.

A micro-batch's source offsets are frame counters, so the batch that
reports ``startOffset.n = a`` and ``endOffset.n = b`` delivered frames
``a .. b-1``. Under the paced generator frame ``i`` is due at
``t0 + (i - warm-up frames)/rate``. The batch ends at
``timestamp + durationMs.triggerExecution``; an event's latency is that
end minus its due time.

Everything here is pure and is pinned by nozzlebench/test_latency.py.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import math
from dataclasses import dataclass, field


@dataclass
class Batch:
    batch_id: int
    start: float  # epoch seconds the trigger began
    end: float  # start + triggerExecution
    first: int  # startOffset.n: first frame index delivered
    last: int  # endOffset.n: one past the last frame index
    rows: int  # numInputRows
    durations: dict = field(default_factory=dict)  # durationMs


def parse_ts(ts: str) -> float:
    """Progress timestamp ('2026-01-02T03:04:05.678Z') -> epoch seconds."""
    return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def batch_from_progress(p: dict) -> Batch:
    src = p["sources"][0]
    start = parse_ts(p["timestamp"])
    d = dict(p.get("durationMs") or {})
    return Batch(
        batch_id=int(p["batchId"]),
        start=start,
        end=start + d.get("triggerExecution", 0) / 1000.0,
        first=int(src["startOffset"]["n"]) if src["startOffset"] else 0,
        last=int(src["endOffset"]["n"]),
        rows=int(p.get("numInputRows") or 0),
        durations=d,
    )


def data_batches(progress: list[dict], query_id: str | None = None) -> list[Batch]:
    """Batches that delivered rows, in batch order, one per batch id
    (the last report wins)."""
    by_id: dict[int, Batch] = {}
    for p in progress:
        if query_id is not None and p.get("id") != query_id:
            continue
        b = batch_from_progress(p)
        if b.last > b.first:
            by_id[b.batch_id] = b
    return [by_id[k] for k in sorted(by_id)]


def paced_due(t0: float, rate: float, first: int = 0):
    """Due time of frame ``i`` under the open-loop schedule that starts
    with frame ``first`` at ``t0``."""
    return lambda i: t0 + (i - first) / rate


def logged_due_by(send_log: list[tuple[int, float]]):
    """Frames handed to TCP by time ``t``, from a saturated generator's
    send log of ``(frames handed to TCP so far, time)`` pairs."""
    times = [t for _, t in send_log]

    def due_by(t: float) -> int:
        k = bisect.bisect_right(times, t)
        return send_log[k - 1][0] if k else 0

    return due_by


def event_latencies_ms(batches: list[Batch], due) -> list[float]:
    """One latency per delivered frame, in milliseconds."""
    out: list[float] = []
    for b in batches:
        out.extend((b.end - due(i)) * 1000.0 for i in range(b.first, b.last))
    return out


def batch_latencies_ms(batches: list[Batch]) -> list[float]:
    """One latency per batch, its duration: every row of a batch has
    this latency, so the rows are one sample, not many."""
    return [(b.end - b.start) * 1000.0 for b in batches]


def percentile(sorted_xs: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list, ``q`` in [0, 100]."""
    if not sorted_xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(q / 100.0 * len(sorted_xs)))
    return sorted_xs[k - 1]


def tail_percentile(n: int, want: float = 99.0, beyond: int = 10) -> float:
    """The highest percentile, at most ``want``, that leaves at least
    ``beyond`` samples above it; 50 if the sample cannot support more."""
    if n <= 0:
        raise ValueError("no samples")
    supported = 100.0 * (1.0 - beyond / n)
    return max(50.0, min(want, supported))


def latency_summary(samples_ms: list[float]) -> dict:
    xs = sorted(samples_ms)
    tail = tail_percentile(len(xs))
    return {
        "p50_ms": percentile(xs, 50.0),
        "tail_pct": tail,
        "tail_ms": percentile(xs, tail),
        "n": len(xs),
    }


def in_window(batches: list[Batch], after_id: int, t_to: float) -> list[Batch]:
    """Batches after batch ``after_id`` (the last warm-up batch) that
    ended by ``t_to``."""
    return [b for b in batches if b.batch_id > after_id and b.end <= t_to]


def rows_per_second(window: list[Batch], batches: list[Batch]) -> float:
    """Delivery rate over the window: its rows over the time from its
    first batch's start to the start of the batch after its last one in
    ``batches``, so the engine's time between batches counts."""
    after = [b.start for b in batches if b.batch_id > window[-1].batch_id]
    if not after:
        raise ValueError("no batch after the window")
    return sum(b.rows for b in window) / (after[0] - window[0].start)


def backlog_at(b: Batch, due_by) -> int:
    """Frames already due when ``b`` started but not in an earlier batch;
    ``due_by(t)`` counts the frames due by time ``t``."""
    return due_by(b.start) - b.first


def paced_due_by(t0: float, rate: float, first: int = 0):
    """Frames due by time ``t`` under ``paced_due``'s schedule."""
    return lambda t: first + (int((t - t0) * rate) + 1 if t >= t0 else 0)
