"""Order statistics and the stream latency arithmetic."""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Iterable


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values: Iterable[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def event_latencies(batches: list[dict]) -> list[float]:
    """Per-event latency from sink records. Each record is one
    micro-batch as the sink wrote it: ``created`` (creation stamps of
    the events it emitted) and ``done`` (when the micro-batch finished).
    An event's latency is ``done - created``."""
    return [b["done"] - c for b in batches for c in b["created"]]


def exactly_once(expected_ids: Iterable[int], batches: list[dict]) -> tuple[int, int]:
    """(missing, duplicated) event counts of the sink records against
    the ids the generator wrote."""
    seen = Counter(i for b in batches for i in b["ids"])
    expected = set(expected_ids)
    missing = sum(1 for i in expected if i not in seen)
    duplicated = sum(n - 1 for n in seen.values() if n > 1) + sum(
        n for i, n in seen.items() if i not in expected
    )
    return missing, duplicated
