"""Latency summaries and metric-name rules shared by the workloads."""

from __future__ import annotations

import re

MIN_BEYOND = 10  # samples a reported tail percentile must have beyond it
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def tail(xs: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least MIN_BEYOND samples beyond
    it, as (value, percentile); None when there are too few samples.

    With n sorted samples that is the (n - MIN_BEYOND)-th smallest:
    exactly MIN_BEYOND samples lie above it."""
    n = len(xs)
    if n <= MIN_BEYOND:
        return None
    rank = n - MIN_BEYOND  # 1-based
    return sorted(xs)[rank - 1], 100.0 * rank / n


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None
