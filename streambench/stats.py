"""Pure helpers: percentiles, span self time, compaction-cycle selection.

Nothing here touches Spark or the filesystem, so the unit tests in
``streambench/tests`` exercise every rule the runner relies on.
"""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; otherwise it is one or two outliers, not a percentile.
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the ``p``-th percentile of ``n`` samples."""
    return max(1, math.ceil(n * p / 100.0 - 1e-9))


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of ``n``."""
    return n - _rank(n, p)


def percentile(values, p: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank percentile. ``p == 50`` is the interpolated median.

    A tail percentile (``p > 50``) raises ``ValueError`` unless at least
    ``min_beyond`` samples lie beyond it: the workload must be sized so
    the percentile it names is supported.
    """
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    if p == 50:
        return float(statistics.median(vals))
    beyond = samples_beyond(len(vals), p)
    if beyond < min_beyond:
        raise ValueError(
            f"p{p:g} of {len(vals)} samples has {beyond} beyond it; "
            f"at least {min_beyond} are needed"
        )
    return float(vals[_rank(len(vals), p) - 1])


def highest_supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float:
    """The highest percentile of ``n`` samples with ``min_beyond`` samples
    beyond it (p75 of 40, p90 of 100); the median when that is below it."""
    return max(50.0, 100.0 * (n - min_beyond) / n) if n else 50.0


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length covered by the union of ``(start, end)`` intervals, each
    clipped to ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent, children) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover. Overlapping children count once."""
    s, e = parent
    return (e - s) - union_length(children, s, e)


def whole_cycles(batch_ids, compact_every: int, warmup: int) -> list[list[int]]:
    """Timed batches for a store that compacts when ``batch_id %
    compact_every == 0``: whole cycles, each starting at the compaction
    trigger, beginning at the first compaction at or after ``warmup``.

    Every run therefore times the same phases of the sawtooth. A cycle
    with a missing batch id is not whole and is left out.
    """
    if compact_every < 1:
        raise ValueError("compact_every must be >= 1")
    ids = set(batch_ids)
    first = max(compact_every, -(-warmup // compact_every) * compact_every)
    top = max(ids, default=-1)
    cycles = []
    start = first
    while start + compact_every - 1 <= top:
        cycle = list(range(start, start + compact_every))
        if all(b in ids for b in cycle):
            cycles.append(cycle)
        start += compact_every
    return cycles


def slope(xs, ys) -> float:
    """Least-squares slope of ``ys`` on ``xs``."""
    n = len(xs)
    if n < 2:
        raise ValueError("slope needs at least two points")
    mx = sum(xs) / n
    my = sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        raise ValueError("slope needs two distinct x values")
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
