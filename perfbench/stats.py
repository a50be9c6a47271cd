"""Pure helpers behind the benchmark's metrics: percentiles, interval
unions, span self time and amplification ratios."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence
from dataclasses import dataclass


def percentile(values: Sequence[float], q: float, min_beyond: int = 10) -> float:
    """Nearest-rank ``q`` percentile of ``values``.

    Raises ValueError unless at least ``min_beyond`` samples lie beyond the
    chosen rank: a tail figure resting on fewer samples is not reported."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * n - 1e-9))  # 1-based nearest rank; absorbs q*n rounding up
    beyond = n - rank
    if beyond < min_beyond:
        raise ValueError(
            f"p{q * 100:g} of {n} samples leaves {beyond} beyond it; {min_beyond} required"
        )
    return sorted(values)[rank - 1]


def highest_supported_quantile(n: int, cap: float = 0.9, min_beyond: int = 10) -> float | None:
    """The highest quantile up to ``cap`` that ``percentile`` accepts for
    ``n`` samples, or None when not even the median leaves enough beyond."""
    if n < 2 * min_beyond:
        return None
    return min(cap, (n - min_beyond) / n)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of closed intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str


def self_times(spans: Sequence[Span]) -> dict[str, float]:
    """Per span name: span duration minus the part its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])
        )
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def ratio(numerator: float, denominator: float) -> float:
    """``numerator / denominator``; a ratio over an empty base is an error,
    not a silent zero."""
    if denominator <= 0:
        raise ValueError(f"ratio over a non-positive base ({denominator})")
    return numerator / denominator
