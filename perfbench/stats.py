"""Order statistics used by every benchmark metric."""

from __future__ import annotations

import math
import re
import statistics

# metric and span names: what BENCHMARK.json and the trace files accept
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

TAIL_BEYOND = 10


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def geomean(values) -> float:
    """Geometric mean: each operation weighs the same whatever its size
    (the summary TPC-H's power metric uses for its query times)."""
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that still has
    at least `beyond` samples above it: the (beyond+1)-th largest sample,
    at percentile 100*(n-beyond)/n.  With `beyond` or fewer samples no
    percentile qualifies, so the maximum is returned at percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return float(xs[-1]), 100.0, n
    return float(xs[n - beyond - 1]), 100.0 * (n - beyond) / n, n


def valid_name(name: str) -> bool:
    return len(name) <= 64 and NAME_RE.fullmatch(name) is not None and name[0].isalnum()
