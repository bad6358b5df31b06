"""Summary statistics and interval arithmetic for the benchmark.

Timings are reported as a median plus the highest percentile that
still has at least ten samples beyond it (``tail``).  Spans and Spark
job intervals are ``(start, end)`` pairs on one clock; ``self_time``
and ``partition`` turn overlapping intervals into exclusive time.
"""

from __future__ import annotations

import statistics

#: Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile in TAIL_PERCENTILES
    with at least MIN_BEYOND samples strictly above its rank, or None
    when even the median lacks them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        # in thousandths, so that e.g. 10 % of 100 is exactly 10
        if n * (1000 - round(p * 10)) >= MIN_BEYOND * 1000:
            return p, percentile(values, p)
    return None


def summary(values: list[float]) -> dict:
    """Median, count and tail of one timing population."""
    out = {"n": len(values), "p50": statistics.median(values)}
    t = tail(values)
    if t is not None:
        out["tail_p"], out["tail"] = t
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` (overlaps counted once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(
    span: tuple[float, float], children: list[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap each other and may stick out of the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def partition(
    root: tuple[float, float],
    labelled: list[tuple[float, float, int, str]],
    root_label: str,
) -> dict[str, float]:
    """Split ``root`` into exclusive time per label.

    ``labelled`` holds ``(start, end, depth, label)``; every instant of
    ``root`` goes to the deepest interval covering it (ties: the one
    that started last), or to ``root_label`` when none does.  The
    values sum to the root's duration.
    """
    rs, re_ = root
    cuts = {rs, re_}
    ivs = []
    for s, e, d, lab in labelled:
        s, e = max(s, rs), min(e, re_)
        if e > s:
            ivs.append((s, e, d, lab))
            cuts.update((s, e))
    edges = sorted(cuts)
    out: dict[str, float] = {}
    for a, b in zip(edges, edges[1:]):
        best = None
        for s, e, d, lab in ivs:
            if s <= a and e >= b and (best is None or (d, s) > best[:2]):
                best = (d, s, lab)
        lab = root_label if best is None else best[2]
        out[lab] = out.get(lab, 0.0) + (b - a)
    return out
