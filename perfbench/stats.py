"""Latency series per operation type, medians and sample-backed tails."""

from __future__ import annotations

import statistics

OP_TYPES = ("publish", "quarantine", "merge", "scan", "lookup", "maintain")


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: with ``n`` sorted samples the
    ``k``-th smallest (1-based) has ``n - k`` samples beyond it, so the
    highest admissible ``k`` is ``n - beyond`` and its percentile is
    ``100 * k / n``. None when there are not more than ``beyond``
    samples.
    """
    n = len(values)
    k = n - beyond
    if k < 1:
        return None
    return sorted(values)[k - 1], 100.0 * k / n, n


class Series:
    """One latency list per operation type; never mixed."""

    def __init__(self):
        self._by_op: dict[str, list[float]] = {op: [] for op in OP_TYPES}

    def add(self, op: str, seconds: float) -> None:
        self._by_op[op].append(seconds)

    def __getitem__(self, op: str) -> list[float]:
        return self._by_op[op]

    def counts(self) -> dict[str, int]:
        return {op: len(v) for op, v in self._by_op.items()}

    def p50(self, op: str) -> float:
        return statistics.median(self._by_op[op])
