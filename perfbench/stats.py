"""The tail-percentile rule of the benchmark's latency reports."""

from __future__ import annotations


def tail(xs: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``beyond`` samples above
    it, as ``(percentile, value)``; ``None`` when that is not above p50.

    With n samples, percentile p leaves n - ceil(n * p / 100) samples
    strictly beyond its order statistic, so p = floor(100 * (n - beyond) / n).
    """
    n = len(xs)
    if n <= beyond:
        return None
    p = 100 * (n - beyond) // n
    if p <= 50:
        return None
    rank = -(-n * p // 100)  # ceil: 1-based nearest-rank order statistic
    return p, sorted(xs)[rank - 1]

