"""Pure helpers of the benchmark: order statistics and the row
normalization and digest of the output check. No Spark imports, so the
tests run without a session."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0 < q < 100) by linear interpolation between
    closest ranks (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ------------------------------------------------------------ output check
def norm_value(v):
    """One value under the rule of scripts/driver_check.py (floats rounded
    to 6 places, integral floats made ints, NaN rejected), extended to
    the nested and temporal values a Spark Row or a DuckDB tuple carries
    so both engines reduce to the same JSON."""
    if hasattr(v, "tolist"):
        v = v.tolist()  # numpy scalar or array -> Python value or list
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            raise ValueError("NaN in query output")
        v = round(v, 6)
        if math.isfinite(v) and v == int(v):
            return int(v)
        return v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark struct; DuckDB returns structs as dicts
        v = v.asDict()
    if isinstance(v, dict):
        return {str(k): norm_value(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, (list, tuple)):
        return [norm_value(x) for x in v]
    raise TypeError(f"unsupported value type {type(v).__name__}")


def norm_rows(rows) -> list[list]:
    """Rows (sequences in one fixed column order) normalized and sorted
    by their string form, order-insensitive like scripts/driver_check.py."""
    out = [[norm_value(v) for v in r] for r in rows]
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


def digest(columns: list[str], rows) -> str:
    """sha256 over the sorted column names and the normalized rows (the
    caller passes rows in sorted-column order)."""
    body = json.dumps([sorted(columns), norm_rows(rows)], separators=(",", ":"))
    return hashlib.sha256(body.encode()).hexdigest()
