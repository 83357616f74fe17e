"""Order statistics used by the benchmark: nearest-rank percentiles and the
tail rule (report the highest percentile that still has at least ten
samples beyond it)."""

from __future__ import annotations

import math

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    xs = sorted(values)
    return xs[max(1, math.ceil(p / 100 * len(xs))) - 1]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the p-th percentile's rank."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(n: int) -> float | None:
    """The highest percentile of :data:`TAIL_LADDER` with at least
    :data:`MIN_BEYOND` samples beyond it, or None when ``n`` is too small
    for any (fewer than 20 samples)."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values: list[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def summary(values: list[float]) -> dict:
    """Median, the supported tail percentile and the sample count."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = median(values)
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_pct"] = tail
        out["tail"] = percentile(values, tail)
    return out


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children's intervals cover."""
    covered, end = 0.0, span["t0"]
    for c in sorted(children, key=lambda c: c["t0"]):
        lo, hi = max(c["t0"], end), min(c["t1"], span["t1"])
        if hi > lo:
            covered += hi - lo
            end = hi
    return span["t1"] - span["t0"] - covered
