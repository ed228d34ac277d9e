"""Folding spans into per-layer metrics."""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.harness import percentile, tail_ok


def per_op_ms(spans: list[dict]) -> dict[str, list[float]]:
    """Span name -> per request, the total ms spent in spans of that name
    (a layer called twice in one op counts once, with both calls)."""
    acc: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        acc[s["name"]][s["req"]] += s["dur"] * 1000.0
    return {name: list(per_req.values()) for name, per_req in acc.items()}


def median_ms(by: dict[str, list[float]], name: str) -> float:
    """Median per-op ms of a layer, 0 when the traced window never called it."""
    values = by.get(name)
    return statistics.median(values) if values else 0.0


def tail_ms(samples_s: list[float], q: float) -> float:
    """The q-th percentile in ms, or 0 when fewer than 10 samples lie
    beyond it (too few to repeat)."""
    if not samples_s or not tail_ok(len(samples_s), q):
        return 0.0
    return percentile(samples_s, q) * 1000.0
