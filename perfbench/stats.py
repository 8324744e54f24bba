"""Pure statistics used by the benchmark: percentiles, the tail rule,
run-to-run spread, failure counting and span self time."""

from __future__ import annotations

import statistics


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(values: list[float], min_beyond: int = 10,
                    floor: int = 50) -> tuple[int, float] | None:
    """The highest integer percentile p (from 99 down to ``floor``) whose
    value has at least ``min_beyond`` samples strictly above it, as
    (p, value); None when even the ``floor`` percentile has fewer."""
    xs = sorted(values)
    for p in range(99, floor - 1, -1):
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= min_beyond:
            return p, v
    return None


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``
    gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def error_rate(outcomes: list[bool]) -> tuple[int, int, float]:
    """(attempted, failed, failed / attempted) over per-operation
    outcomes, True meaning the operation ran and matched its oracle."""
    attempted = len(outcomes)
    failed = sum(1 for ok in outcomes if not ok)
    return attempted, failed, (failed / attempted if attempted else 0.0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
