"""Helpers for the output checks and the statistics the benchmark reports.

The registry keys' checksums come from ``scripts/drive_contract.py``
(``duck_checksum``); this module holds the deferred-check record, the
comparison of the CLI's rows with DuckDB's, and the statistics.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass
class Deferred:
    """A check finished after the Spark session has stopped: the output
    of registry key ``key`` was written to ``path`` as parquet, and
    DuckDB compares it with the key's twin (``oracle.py verify``)."""
    key: str
    path: str


def norm_value(v):
    """One cell of a CLI or DuckDB result, as text, comparable across
    the two: integers exactly, other numbers to 10 significant digits."""
    if v is None or v == "":
        return ""
    if isinstance(v, str):
        try:
            v = int(v)
        except ValueError:
            v = float(v)
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        v = int(v)
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(int(v))


def sorted_rows(rows) -> list[str]:
    return sorted(",".join(norm_value(v) for v in row) for row in rows)


# ---------------------------------------------------------------- #
# statistics                                                         #
# ---------------------------------------------------------------- #

def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest whole percentile that leaves at least ``beyond``
    samples above it among ``n``; 50 when even the median cannot."""
    best = 50.0
    for p in range(50, 100):
        if n * (100 - p) / 100.0 >= beyond:
            best = float(p)
    return best


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def subtract_length(base, minus) -> float:
    """Length of the union of ``base`` not covered by ``minus``."""
    both = union_length(list(base) + list(minus))
    return both - union_length(minus)
