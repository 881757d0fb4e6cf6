"""Pure functions behind the reported numbers (unit-tested in
``perfbench/tests/test_perfbench_stats.py``)."""

from __future__ import annotations

import math

import numpy as np

# A percentile is reported only when at least this many samples lie
# beyond it; otherwise the sample cannot tell it apart from the maximum.
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """``q``-th percentile (0-100) by linear interpolation between
    closest ranks (numpy's default). Raises on an empty sample."""
    if len(values) == 0:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(np.asarray(values, dtype=float), q))


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th percentile
    rank."""
    return n - math.ceil(n * q / 100.0)


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` beyond ``q``."""
    return samples_beyond(n, q) >= MIN_BEYOND


def median(values) -> float | None:
    """Median, or None for an empty sample."""
    return float(np.median(values)) if len(values) else None


def named_percentiles(name: str, values, qs) -> dict[str, float | None]:
    """``{name}_p{q}_s`` for each ``q``: the percentile when the sample
    supports it (:func:`supported`), else None. An empty sample gives
    None everywhere instead of raising, so a run that produced no
    samples still reports its failures."""
    return {
        f"{name}_p{q}_s": percentile(values, q) if supported(len(values), q) else None
        for q in qs
    }


def closing_created(window_ends, created, event_time, watermark) -> list:
    """For each window end ``e``: the creation time of the first event,
    in creation order, whose event time is at or past ``e + watermark``,
    i.e. the event that lets the watermark close the window; ``None``
    when no such event exists.

    ``created`` and ``event_time`` are parallel sequences in creation
    order. Out-of-order events never close a window early: the
    running maximum of event time decides, as it does for the watermark.
    """
    created = np.asarray(created)
    run_max = np.maximum.accumulate(np.asarray(event_time))
    idx = np.searchsorted(run_max, np.asarray(window_ends) + watermark, side="left")
    return [None if i >= len(created) else created[i].item() for i in idx]


def query_stretch(times_by_query: dict[str, list[float]]) -> list[float]:
    """Each execution's time divided by its own query's median."""
    out: list[float] = []
    for times in times_by_query.values():
        if not times:
            continue
        med = float(np.median(times))
        out.extend(t / med for t in times)
    return out


def query_stretch_p95(times_by_query: dict[str, list[float]]) -> float | None:
    """p95 of :func:`query_stretch` over all timed executions, or None
    when fewer than ``MIN_BEYOND`` executions lie beyond it. Catches
    executions slowed by GC, JIT or code-cache episodes."""
    stretch = query_stretch(times_by_query)
    return percentile(stretch, 95) if supported(len(stretch), 95) else None

