"""The tail-percentile rule."""

from __future__ import annotations

#: a tail percentile needs this many samples beyond it
TAIL_BEYOND = 10
#: runs holding fewer ops than this report no percentile tail
TAIL_MIN_OPS = 2 * TAIL_BEYOND


def tail_index(n: int) -> int | None:
    """Index, in ascending order, of the highest sample with at least
    ``TAIL_BEYOND`` samples above it; None when fewer than
    ``TAIL_MIN_OPS`` samples exist."""
    if n < TAIL_MIN_OPS:
        return None
    return n - TAIL_BEYOND - 1


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """``(value, percentile, n)`` of the highest percentile that has at
    least ``TAIL_BEYOND`` samples beyond it, or None."""
    i = tail_index(len(values))
    if i is None:
        return None
    return sorted(values)[i], 100.0 * (i + 1) / len(values), len(values)
