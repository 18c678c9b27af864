"""Summary statistics shared by every workload."""

from __future__ import annotations

# A tail percentile is reported only where at least this many ops lie
# beyond it, so one slow op cannot set it alone.
TAIL_BEYOND = 10


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with >= TAIL_BEYOND ops beyond it.

    Returns ``(value, percentile, ops_beyond)``. When the sample is too
    small for that percentile to sit above the median (20 ops or fewer),
    the maximum is reported instead, as percentile 100 with 0 ops beyond.
    """
    if not latencies:
        raise ValueError("no latencies")
    ordered = sorted(latencies)
    n = len(ordered)
    k = n - TAIL_BEYOND - 1  # index with exactly TAIL_BEYOND ops above it
    if k < n // 2:
        return ordered[-1], 100.0, 0
    return ordered[k], 100.0 * (k + 1) / n, n - k - 1


def failed_frac(attempted: int, failed: int) -> float:
    """Share of attempted ops that raised or failed their output check."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted
