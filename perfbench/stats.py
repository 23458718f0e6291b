"""Small statistics used by the benchmark and its pair comparison."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Percentile:
    value: float
    n: int


def nearest_rank(values: list[float], p: float) -> Percentile:
    """Nearest-rank percentile (``p`` in 0..100): the smallest sample
    with at least ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return Percentile(ordered[rank - 1], len(ordered))


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs (0 when xs do not vary)."""
    if len(xs) != len(ys):
        raise ValueError("xs and ys differ in length")
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


@dataclass(frozen=True)
class Verdict:
    status: str  # "gain" | "within_bound" | "regression" | "unresolved"
    wins: int
    losses: int
    pairs: int
    parent_median: float
    change_median: float
    parent_iqr: float
    change_iqr: float


# a gain needs this many pairs, and the change winning this share of them
MIN_PAIRS = 10
WIN_SHARE = 0.9


def judge_pairs(pairs: list[tuple[float, float]], better: str, bound: float) -> Verdict:
    """Adjudicate one metric on one workload from alternated
    (parent, change) pairs.

    - ``gain``: at least ``MIN_PAIRS`` pairs, the change wins at least
      ``WIN_SHARE`` of them (ties count for neither side), and the
      medians differ, in the better direction, by more than the
      parent's interquartile range.
    - otherwise the change must not be worse than the parent's median
      by more than ``bound`` (a share of the parent's median):
      ``regression`` when it is; ``unresolved`` when either side's
      spread exceeds the bound, unless every change run beats every
      parent run; ``within_bound`` else.
    """
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
    if not pairs:
        raise ValueError("no pairs")
    sign = 1.0 if better == "lower" else -1.0
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    parent_iqr, change_iqr = pq3 - pq1, cq3 - cq1
    improvement = sign * (pmed - cmed)

    def verdict(status: str) -> Verdict:
        return Verdict(status, wins, losses, len(pairs), pmed, cmed, parent_iqr, change_iqr)

    if (
        len(pairs) >= MIN_PAIRS
        and wins >= WIN_SHARE * len(pairs)
        and improvement > parent_iqr
    ):
        return verdict("gain")
    if -improvement > bound * abs(pmed):
        return verdict("regression")
    too_wide = max(parent_iqr, change_iqr) > bound * abs(pmed)
    change_dominates = (
        max(change) < min(parent) if better == "lower" else min(change) > max(parent)
    )
    if too_wide and not change_dominates:
        return verdict("unresolved")
    return verdict("within_bound")
