"""Summary statistics of the benchmark's samples."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def median(xs) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs) -> tuple[str, float] | None:
    """The highest whole percentile with at least MIN_BEYOND samples
    beyond its nearest-rank value, as ("p75", value); None when there are
    MIN_BEYOND samples or fewer."""
    n = len(xs)
    for p in range(99, 0, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND:
            return f"p{p}", percentile(xs, p)
    return None


def render(metrics: dict) -> dict:
    """{name: (value, unit, n[, percentile])} -> JSON-ready dicts; a None
    value is reported as not applicable."""
    out = {}
    for k, v in sorted(metrics.items()):
        d = {"value": v[0], "unit": v[1], "n": v[2]} if v[0] is not None else {"value": "n/a", "unit": v[1], "n": v[2]}
        if len(v) > 3:
            d["percentile"] = v[3]
        out[k] = d
    return out
