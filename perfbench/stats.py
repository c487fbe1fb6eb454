"""Summary arithmetic shared by the runner, the worker and the tests."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no values")
    return float(statistics.median(vals))


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive values (TPC-H power-test style)."""
    vals = list(values)
    if not vals:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in vals):
        raise ValueError(f"geomean needs positive values, got {min(vals)}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def query_geomean(latencies: Mapping[str, Sequence[float]]) -> float:
    """Geometric mean over ids of each id's median latency."""
    return geomean(median(samples) for samples in latencies.values())


def ok_frac(attempted: int, failed: int) -> float:
    """Share of attempted executions that completed with verified output.

    Zero attempts reads as 0.0, never as a dropped sample.
    """
    if attempted < 0 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return (attempted - failed) / attempted if attempted else 0.0

