"""Summaries the benchmark reports: median and the sample-supported tail."""

from __future__ import annotations

import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> dict:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it, with the sample count.

    Sorted ascending, that is the value at 0-based rank ``n - 11``; its
    percentile is ``100 * (n - 10) / n``.  When that rank falls below the
    median (fewer than 20 samples) the sample supports no tail, and the
    maximum is reported with ``"supported": False`` instead.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n < 2 * TAIL_BEYOND:
        return {"value": xs[-1], "percentile": 100.0, "count": n, "supported": False}
    return {
        "value": xs[n - TAIL_BEYOND - 1],
        "percentile": 100.0 * (n - TAIL_BEYOND) / n,
        "count": n,
        "supported": True,
    }


def summary(values) -> dict:
    """Median plus tail, as reported for every latency sample."""
    t = tail(values)
    return {"p50": median(values), "tail": t["value"], "tail_percentile": t["percentile"],
            "count": t["count"], "tail_supported": t["supported"]}
