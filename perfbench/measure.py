"""Timing primitives shared by the workloads: spans around public calls,
job-group attribution, the tail-percentile rule and job-interval unions."""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3


@dataclass
class Span:
    """One timed call into a layer: wall-clock bounds in epoch ms (the clock
    Spark stamps jobs with) plus the job group its jobs were tagged with."""

    group: str
    start_ms: float
    end_ms: float

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


@contextmanager
def job_group(sc, group: str):
    """Tag every Spark job started inside the block with ``group``.

    The job group is a thread-local property of the driver thread, so it
    would leak into the next call's jobs if left set; it is cleared on exit,
    including when the call raises."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc._jsc.clearJobGroup()


def timed(spans: list[Span], sc, group: str, fn, *args):
    """Call ``fn(*args)`` under job group ``group``, append its span, and
    return its result."""
    with job_group(sc, group):
        t0 = time.time() * 1000.0
        try:
            return fn(*args)
        finally:
            spans.append(Span(group, t0, time.time() * 1000.0))


def force(df) -> None:
    """Run ``df``'s plan to completion without collecting it."""
    df.write.mode("overwrite").format("noop").save()


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(samples, min_beyond: int = 10) -> tuple[int, float, int]:
    """The highest whole percentile with at least ``min_beyond`` samples
    beyond it, as ``(percentile, value, samples_beyond)``.

    Percentiles use the nearest-rank rule: percentile ``p`` of ``n`` sorted
    samples is the one at rank ``ceil(p * n / 100)``, and the samples beyond
    it are the ``n - rank`` that follow.  A tail is never below the median:
    with too few samples for any percentile from 50 up, p50 is returned with
    the samples it has beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if not xs:
        return 50, 0.0, 0
    for pct in range(99, 49, -1):
        rank = max(1, math.ceil(pct * n / 100))
        if n - rank >= min_beyond:
            return pct, xs[rank - 1], n - rank
    rank = math.ceil(n / 2)
    return 50, xs[rank - 1], n - rank


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def outside_job_ms(groups: dict, spans: list[Span]) -> float:
    """Wall time from the first span's start to the last span's end that no
    job of the spans' job groups covers: driver time outside Spark jobs."""
    intervals = [iv for s in spans if s.group in groups for iv in groups[s.group].intervals]
    lo, hi = spans[0].start_ms, spans[-1].end_ms
    return hi - lo - union_ms(intervals, lo, hi)
