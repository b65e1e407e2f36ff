"""Pure helpers for the benchmark's summaries: percentiles under the
ten-samples-beyond rule, failure fractions and span self time."""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterable, Sequence

# percentiles considered for a tail figure, highest first
TAIL_LADDER = (99.9, 99.0, 90.0, 50.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of ``TAIL_LADDER`` with at least ten of ``n``
    samples beyond it; None when even the median has fewer than ten."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            return p
    return None


def summarize(values: Sequence[float]) -> dict:
    """Median, the supported tail percentile and the sample count."""
    out = {"n": len(values), "p50": percentile(values, 50.0) if values else None}
    p = tail_percentile(len(values))
    if p is not None and p > 50.0:
        out[f"p{p:g}"] = percentile(values, p)
    return out


def failed_frac(failed: int, attempted: int) -> float:
    """Failed operations over attempted ones; attempting nothing is a failure
    of the run, not a zero."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def covered_time(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals`` covers."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Sum of self time per span name: each span's duration minus the part
    of its interval covered by its direct children (spans are dicts with
    ``id``, ``name``, ``start``, ``end`` and ``parent``)."""
    children: dict[object, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["name"]] += dur - covered_time(children.get(s["id"], ()), s["start"], s["end"])
    return dict(out)

