"""Summary statistics for the benchmark's samples (pure Python, no Spark).

The tail rule follows the benchmark notes: report the median and the
highest percentile that still has at least ``TAIL_BEYOND`` samples above
it. The percentile is fixed per workload (``tail_pct``) so that two runs
of different speed report the same statistic; the workload's minimum
sample count guarantees the rule holds (``min_samples_for``).

A workload whose ops come in several kinds (one per registry key) is
summarized per kind first (``mix_summary``): the pooled median of a mix of
kinds jumps between the kinds' levels when two kinds swap places, so one
run's median says little about the next one's.
"""

from __future__ import annotations

import math
import statistics

#: Samples that must lie above the reported tail percentile.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default ``linear`` method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def min_samples_for(pct: float, n_beyond: int = TAIL_BEYOND) -> int:
    """Smallest sample count whose ``pct`` percentile has ``n_beyond``
    samples above it (ties aside)."""
    n = n_beyond + 1
    while math.floor((n - 1) * pct / 100.0) + 1 + n_beyond > n:
        n += 1
    return n


def tail_pct_for(n: int, n_beyond: int = TAIL_BEYOND) -> int:
    """Highest whole percentile that ``n`` samples support with
    ``n_beyond`` samples above it."""
    best = None
    for pct in range(1, 100):
        if math.floor((n - 1) * pct / 100.0) + 1 + n_beyond <= n:
            best = pct
    if best is None:
        raise ValueError(f"{n} samples cannot leave {n_beyond} beyond any percentile")
    return best


def tail(values: list[float], pct: float) -> float:
    """The ``pct`` percentile, refusing a sample set too small for the rule."""
    if len(values) < min_samples_for(pct):
        raise ValueError(
            f"{len(values)} samples cannot support p{pct:g} with "
            f"{TAIL_BEYOND} beyond it (need {min_samples_for(pct)})"
        )
    return percentile(values, pct)


def gmean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_median(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over kinds of each kind's median, for ``(kind,
    value)`` samples; with a single kind, the plain median."""
    by_kind: dict[str, list[float]] = {}
    for kind, v in samples:
        by_kind.setdefault(kind, []).append(v)
    return gmean([median(v) for v in by_kind.values()])


def mix_summary(
    samples: list[tuple[str, float]], tail_pct: float
) -> tuple[float, float]:
    """(p50, tail) of ``(kind, value)`` samples from a mix of op kinds.

    p50 is ``kind_median``. The tail is the ``tail_pct`` percentile of all
    samples pooled: the latency a user of the whole mix sees."""
    return kind_median(samples), tail([v for _, v in samples], tail_pct)
