"""Driver-side twins of Spark expressions, for values already on the
driver: each returns exactly what Spark would compute from the same
inputs, so a driver path and its Spark plan return identical rows."""

from __future__ import annotations

import decimal

import numpy as np

# |value * 10^6| under 2^33: the product then carries an absolute error of
# at most 2^-20, so any fraction farther than _TIE_BAND from .5 rounds the
# same from the product as from the value's decimal string
_UNITS_FAST_MAX = float(1 << 33)
_TIE_BAND = 1e-5
# DECIMAL(18,6) holds |value| < 10^12
_DECIMAL_18_6_MAX = 10**18


def decimal_units(values, spark):
    """``CAST(x AS DECIMAL(18,6))`` of a float64 numpy array, on the
    driver, as exact scaled longs (value x 10^6, int64). None when a value
    is not finite or overflows the type (Spark raises under ANSI).

    Spark casts a double to a decimal through the JVM's
    ``Double.toString`` and rounds that string HALF_UP. A value whose
    product with 10^6 is farther than ``_TIE_BAND`` from a half rounds to
    the nearest integer whatever its string; for the rest (about one
    value in 10^5) the JVM renders the string, since JDK 17's
    ``toString`` is not always the shortest repr Python prints."""
    values = np.asarray(values, dtype=np.float64)
    if not np.isfinite(values).all():
        return None
    x = values * 1e6
    units = np.rint(x)
    near = (np.abs(x) >= _UNITS_FAST_MAX) | (np.abs(np.abs(x - np.trunc(x)) - 0.5) <= _TIE_BAND)
    units = np.where(near, 0.0, units).astype(np.int64)
    for i in np.flatnonzero(near):
        if abs(values[i]) >= 1e12:
            return None
        text = spark._jvm.java.lang.Double.toString(float(values[i]))
        n = int(decimal.Decimal(text).scaleb(6).quantize(1, decimal.ROUND_HALF_UP))
        if abs(n) >= _DECIMAL_18_6_MAX:
            return None
        units[i] = n
    return units


def span_rows(lo, n):
    """Row numbers ``lo[i] .. lo[i] + n[i] - 1`` of every span, in span
    order, as one int64 array (no per-span arrays)."""
    lo = np.asarray(lo, dtype=np.int64)
    n = np.asarray(n, dtype=np.int64)
    return np.arange(n.sum()) - np.repeat(np.cumsum(n) - n - lo, n)


def ranked(qids: list, groups, ids, keys, scores, k: int) -> dict:
    """``{qids[g]: [(id, score), ...]}``: each group's top ``k`` rows by
    (key desc, id asc), in rank order: a ``row_number`` window over
    (query_id) ordered by (key desc, id asc), filtered to rank <= k."""
    if not len(groups):
        return {}
    order = np.lexsort((ids, -keys, groups))
    g = groups[order]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    pos = np.arange(len(g)) - np.repeat(starts, np.diff(np.r_[starts, len(g)]))
    keep = order[pos < k]
    out: dict = {}
    for q, i, s in zip(groups[keep].tolist(), ids[keep].tolist(), scores[keep].tolist()):
        out.setdefault(qids[q], []).append((i, s))
    return out


def summed_ranked(qids: list, groups, ids, units, k: int) -> dict:
    """``ranked`` over the per-(group, id) sums of scaled-long ``units``,
    each sum's score the double ``sum / 1e6`` (Spark's long-to-double
    division), ranked by that score."""
    if not len(groups):
        return {}
    order = np.lexsort((ids, groups))
    g, i, u = groups[order], ids[order], units[order]
    starts = np.flatnonzero(np.r_[True, (g[1:] != g[:-1]) | (i[1:] != i[:-1])])
    scores = np.add.reduceat(u, starts) / 1e6
    return ranked(qids, g[starts], i[starts], scores, scores, k)
