"""Percentiles with the benchmark's reporting rule: a percentile is
reported only when at least ten samples lie beyond it."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def supported(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least ten beyond percentile ``p``."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition).
    Raises ValueError when fewer than ten samples lie beyond ``p``."""
    n = len(values)
    if not supported(n, p):
        raise ValueError(f"p{p:g} needs {math.ceil(MIN_BEYOND * 100 / (100 - p))} samples, have {n}")
    xs = sorted(values)
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def mean(values: list[float]) -> float:
    if not values:
        raise ValueError("mean of no samples")
    return sum(values) / len(values)


def best(runs: list[tuple[float, bool]]) -> float:
    """One operation kind's best latency from its ``(latency, ok)``
    runs: the fastest run that succeeded, or the slowest run when none
    did, so a failure never improves a figure.  Noise on a shared host
    only adds time, so the fastest run is the steadiest estimate of
    what the program needs."""
    good = [x for x, ok in runs if ok]
    return min(good) if good else max(x for x, _ in runs)


def bests(ops: list[dict], key: str) -> list[float]:
    """:func:`best` for every kind, grouping operation records by ``key``."""
    runs: dict[object, list[tuple[float, bool]]] = {}
    for o in ops:
        runs.setdefault(o[key], []).append((o["latency"], o["ok"]))
    return [best(v) for v in runs.values()]


def gmean(values: list[float]) -> float:
    """Geometric mean: every operation's relative change weighs the
    same, however long the operation is (TPC-H's power metric)."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))
