"""Summary statistics the benchmark reports."""

from __future__ import annotations

TAIL_BEYOND = 10   # samples that must lie beyond the reported tail


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_BEYOND`` samples beyond it.

    With n samples sorted ascending that is the sample at 0-based index
    n - 11, i.e. percentile 100 * (n - 10) / n: p50 at n = 20, p90 at
    n = 100, p99 at n = 1000. With 10 samples or fewer no percentile
    qualifies, and the maximum is reported as p100."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n
