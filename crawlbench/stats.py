"""Pure helpers: percentiles with their sample count, and order-insensitive
table digests over semantic columns."""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterable, Sequence


def percentile(values: Sequence[float], q: float) -> tuple[float, int]:
    """Linear-interpolated q-th percentile (0 <= q <= 100) and the number of
    samples it rests on. Raises on an empty sample: a metric with no
    samples is a benchmark bug, not a zero."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"q must be in [0, 100], got {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return value, len(xs)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)[0]


def _norm(v):
    """Canonical, engine-independent form of one cell."""
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "sha1:" + hashlib.sha1(bytes(v)).hexdigest()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    try:
        import pandas as pd

        if v is pd.NA or v is pd.NaT:
            return None
    except ImportError:
        pass
    return v


def digest_rows(rows: Iterable[Sequence]) -> str:
    """sha256 over the sorted canonical reprs of ``rows``: invariant to row
    order, sensitive to every cell value."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(_norm(v) for v in r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def digest_frame(pdf, columns: Sequence[str]) -> str:
    """Digest of a pandas frame restricted to ``columns`` — every other
    column (partition ids, wall clocks, plan-dependent fields) is ignored."""
    return digest_rows(pdf[list(columns)].itertuples(index=False, name=None))
