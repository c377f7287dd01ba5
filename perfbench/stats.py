"""Percentiles and the tail-percentile naming rule."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99, 95, 90, 80, 75)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n: int) -> int | None:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even p75 has fewer. A p90 needs
    n >= 100, a p75 n >= 40."""
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p
    return None


def latency_metrics(prefix: str, walls: list[float]) -> dict[str, tuple[float, str]]:
    """``<prefix>_p50_s`` plus the named tail the sample count supports,
    plus ``<prefix>_n``, the sample count."""
    if not walls:
        return {}
    out = {f"{prefix}_p50_s": (statistics.median(walls), "s"), f"{prefix}_n": (len(walls), "count")}
    p = tail_percentile(len(walls))
    if p is not None:
        out[f"{prefix}_p{p}_s"] = (percentile(walls, p), "s")
    return out

