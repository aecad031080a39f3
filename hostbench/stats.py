"""Small statistics helpers shared by the runner and the self-tests."""

from __future__ import annotations

import statistics

#: percentiles tried by ``tail``, highest first, in per-mille so the
#: "samples beyond" test is exact integer arithmetic
TAIL_LADDER_PERMILLE = (999, 990, 900, 500)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple:
    """(label, value, samples): the highest percentile of ``TAIL_LADDER``
    with at least 10 samples beyond it, else the maximum."""
    xs = sorted(values)
    n = len(xs)
    for q in TAIL_LADDER_PERMILLE:
        if n * (1000 - q) >= 10 * 1000:
            rank = -(-q * n // 1000)  # nearest-rank percentile
            return f"p{q / 10:g}", xs[rank - 1], n
    return "max", (xs[-1] if xs else 0.0), n


def halves_gap(values) -> float:
    """|median(second half) / median(first half) - 1| of a sequence in
    time order; 0 with fewer than 4 values."""
    if len(values) < 4:
        return 0.0
    h = len(values) // 2
    first, second = median(values[:h]), median(values[-h:])
    return abs(second / first - 1.0) if first else 0.0

