"""Small statistics used by the benchmark: per-op-class latency, the
steady-state drift check and the spread measure."""

from __future__ import annotations

import statistics


def op_class_latency(samples: list[tuple[str, float]]) -> tuple[float, float]:
    """(p50, tail) of the measured phase, taken per op class so that every
    op counts the same however cheap or frequent it is. ``samples`` are
    (op, latency). p50 is the geometric mean over ops of each op's median
    latency; the tail is the geometric mean over ops of each op's slowest
    measured latency. A run measures each op 1 to 6 times, far too few for
    a percentile above the median, so the tail is the slowest occurrence."""
    by_op: dict[str, list[float]] = {}
    for op, lat in samples:
        by_op.setdefault(op, []).append(lat)
    if not by_op:
        raise ValueError("no samples")
    return (
        statistics.geometric_mean(statistics.median(v) for v in by_op.values()),
        statistics.geometric_mean(max(v) for v in by_op.values()),
    )


def drift(samples: list[tuple[int, str, float]]) -> float:
    """Relative change of the measured phase between its first and second
    half of passes. ``samples`` are (pass, op, latency). Each op present in
    both halves contributes its mean latency per half, so ops that run only
    on some passes do not bias the comparison: the result is
    sum(second-half means) / sum(first-half means) - 1. With an odd pass
    count the middle pass is left out; fewer than two passes gives 0."""
    passes = sorted({p for p, _, _ in samples})
    h = len(passes) // 2
    if h == 0:
        return 0.0
    halves = (set(passes[:h]), set(passes[-h:]))
    means = []
    for half in halves:
        by_op: dict[str, list[float]] = {}
        for p, op, lat in samples:
            if p in half:
                by_op.setdefault(op, []).append(lat)
        means.append({op: statistics.fmean(v) for op, v in by_op.items()})
    common = means[0].keys() & means[1].keys()
    first = sum(means[0][op] for op in common)
    second = sum(means[1][op] for op in common)
    return second / first - 1.0 if first else 0.0


def spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median — the A/A spread."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0
