"""Pure metric helpers: percentiles, open-loop latency, backlog
slope and exactly-once accounting. No Spark, no I/O."""

from __future__ import annotations

import math
import statistics
from collections import Counter


def percentile(values, q: float) -> float:
    """Linear-interpolated q-th percentile (0-100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_q(n: int, wanted: float, min_beyond: int = 10) -> float:
    """The highest percentile <= `wanted` from (99, 90, 75, 50) that
    leaves at least `min_beyond` of `n` samples beyond it (50 if none)."""
    for q in (99.0, 90.0, 75.0):
        if q <= wanted and n * (100.0 - q) / 100.0 >= min_beyond:
            return q
    return 50.0


def tail_mean(values, share: float) -> float:
    """Mean of the largest `share` of a non-empty sample (at least one
    value): the expected shortfall beyond the (1 - share) quantile."""
    xs = sorted(values, reverse=True)
    k = max(1, round(len(xs) * share))
    return sum(xs[:k]) / k


def median(values) -> float:
    return statistics.median(values)


def latencies_ms(due_s, emit_s) -> list[float]:
    """Open-loop latency per record: emit time minus the time the record
    was DUE to be sent (not the time it was sent), so a stall also counts
    against every record scheduled behind it."""
    return [(e - d) * 1000.0 for d, e in zip(due_s, emit_s)]


def slope(xs, ys) -> float:
    """Least-squares slope of ys over xs (0 for fewer than 2 points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx = sum(xs) / n
    my = sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def backlog_series(due_s, emit_s, at_s) -> list[int]:
    """Records due but not yet emitted at each instant of `at_s`."""
    due = sorted(due_s)
    emit = sorted(emit_s)
    out = []
    i = j = 0
    for t in sorted(at_s):
        while i < len(due) and due[i] <= t:
            i += 1
        while j < len(emit) and emit[j] <= t:
            j += 1
        out.append(i - j)
    return out


def exactly_once(expected, emitted) -> dict[str, int]:
    """Compare the ids a consumer emitted against the ids it must emit
    exactly once: `missing` were never emitted, `duplicated` counts the
    surplus copies, `unexpected` were emitted but must not be (e.g. a
    malformed record that should have been skipped)."""
    want = set(expected)
    seen = Counter(emitted)
    return {
        "missing": sum(1 for k in want if k not in seen),
        "duplicated": sum(c - 1 for k, c in seen.items() if k in want and c > 1),
        "unexpected": sum(c for k, c in seen.items() if k not in want),
    }
