"""Row-at-a-time reference kernels: the test oracle for the engine's
vectorized finishes.

Each kernel answers Q trailing-window queries over one group's events in
one shot: given the group's non-null values sorted by (ts, original order)
and per-query index bounds ``lo[i]:hi[i]`` (computed by
``arrow_engine._tail_bounds`` from the hop-aligned tail rule), produce one
output per query as a Python list. No engine module calls them;
tests/test_segments.py checks the Arrow finishes (segments.py) against
them.

They restate the reference's row-at-a-time SimpleAggregator machinery
(aggregator/src/main/scala/ai/chronon/aggregator/base/SimpleAggregators.scala,
TimedAggregators.scala, row/ColumnAggregator.scala) with numpy primitives:
 - prefix sums -> SUM / COUNT / AVERAGE / moments (VARIANCE, SKEW, KURTOSIS)
 - sparse-table RMQ -> MIN / MAX in O((n+q) log n)
 - searchsorted boundary indexes -> FIRST / LAST
 - previous-occurrence counting -> exact UNIQUE_COUNT
 - per-query numpy slices -> K-ops / HISTOGRAM / percentiles

Semantics parity notes (vs reference):
 - empty window -> None (a never-created IR finalizes to null).
 - VARIANCE is population variance m2/n (SimpleAggregators.scala:253-255
   WelfordState.finalizeImpl = m2 / count).
 - SKEW  = sqrt(n)*m3/m2^1.5, NaN if n<3 or m2==0 (:758-759).
 - KURTOSIS = n*m4/m2^2 - 3,  NaN if n<4 or m2==0 (:763-766).
 - LAST = payload at max ts; first occurrence wins among equal ts
   (TimedAggregators.scala Last.update uses strict ``<``). FIRST mirrors.
 - LAST_K returns values most-recent-first (OrderByLimitTimed.finalize sorts
   by the heap ordering, TimedAggregators.scala:117-183).
 - APPROX_* ops are exact here; the output contract (types, names)
   matches the reference.
 - All kernels ignore nulls — callers pre-filter (ColumnAggregator.scala
   null guards :55-56,141-148).
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
import pandas as pd

from zipline_chronon_spark.api import AggregationPart, Operation
from zipline_chronon_spark.operators.arrow_engine import _SHIFT
from zipline_chronon_spark.operators.kernels import (
    _SparseTable, group_first, group_prefix, window_sums)

# ---------------------------------------------------------------------------
# helpers


def enc_first(enc: np.ndarray) -> np.ndarray:
    """Group-start mask of a sorted group-encoded time array."""
    return group_first(enc >> _SHIFT)


def _empty_mask(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    return hi <= lo


def _nullify(res: np.ndarray, empty: np.ndarray) -> list:
    return [None if e else v for v, e in zip(res.tolist(), empty)]


# ---------------------------------------------------------------------------
# kernel implementations — signature:
#   f(vals, ts, lo, hi, part) -> list of per-query outputs (None for empty)


def _k_count(vals, ts, lo, hi, part):
    n = (hi - lo).astype(np.int64)
    return [None if v == 0 else int(v) for v in n]


def _k_sum(vals, ts, lo, hi, part):
    arr = np.asarray(vals)
    if np.issubdtype(arr.dtype, np.integer) or arr.dtype == np.bool_:
        # exact long arithmetic (reference keeps JVM long; int64 wrap matches)
        xi = arr.astype(np.int64, copy=False)
        pre = np.zeros(len(xi) + 1, dtype=np.int64)
        np.cumsum(xi, out=pre[1:])
        res = pre[hi] - pre[lo]
        return [None if e else int(v) for v, e in zip(res.tolist(), _empty_mask(lo, hi))]
    first = enc_first(ts)
    res = window_sums(group_prefix(arr.astype(np.float64, copy=False), first), first, lo, hi)
    return _nullify(res, _empty_mask(lo, hi))


def _k_average(vals, ts, lo, hi, part):
    first = enc_first(ts)
    pre = group_prefix(np.asarray(vals, dtype=np.float64), first)
    n = (hi - lo).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        res = window_sums(pre, first, lo, hi) / n
    return _nullify(res, _empty_mask(lo, hi))


def _central_moments(vals, ts, lo, hi, upto: int):
    """Windowed central moments M2..M{upto} via prefix power sums of values
    centered on their group's mean (centering keeps the power sums small ->
    numerically fine at float64 for group-local data; the reference's
    Welford/Chan formulation solves the same problem stream-wise)."""
    x = np.asarray(vals, dtype=np.float64)
    first = enc_first(ts)
    g = np.cumsum(first) - 1
    mean_g = np.bincount(g, weights=x) / np.maximum(np.bincount(g), 1)
    c = x - mean_g[g]
    n = (hi - lo).astype(np.float64)
    # s[0]=S1 ... s[upto-1]=S_upto
    s = [window_sums(group_prefix(c**p, first), first, lo, hi) for p in range(1, upto + 1)]
    with np.errstate(invalid="ignore", divide="ignore"):
        mu = s[0] / n
        m2 = s[1] - n * mu**2
        out = [m2]
        if upto >= 3:
            out.append(s[2] - 3 * mu * s[1] + 2 * n * mu**3)
        if upto >= 4:
            out.append(s[3] - 4 * mu * s[2] + 6 * mu**2 * s[1] - 3 * n * mu**4)
    return n, out


def _k_variance(vals, ts, lo, hi, part):
    n, (m2,) = _central_moments(vals, ts, lo, hi, 2)
    with np.errstate(invalid="ignore", divide="ignore"):
        res = np.maximum(m2, 0.0) / n
    return _nullify(res, _empty_mask(lo, hi))


def _k_skew(vals, ts, lo, hi, part):
    n, (m2, m3) = _central_moments(vals, ts, lo, hi, 3)
    m2 = np.maximum(m2, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        res = np.where((n < 3) | (m2 <= 0), np.nan, np.sqrt(n) * m3 / np.power(m2, 1.5))
    return _nullify(res, _empty_mask(lo, hi))


def _k_kurtosis(vals, ts, lo, hi, part):
    n, (m2, _m3, m4) = _central_moments(vals, ts, lo, hi, 4)
    m2 = np.maximum(m2, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        res = np.where((n < 4) | (m2 <= 0), np.nan, n * m4 / (m2 * m2) - 3.0)
    return _nullify(res, _empty_mask(lo, hi))


def _minmax(vals, lo, hi, op, py_op):
    arr = np.asarray(vals)
    empty = _empty_mask(lo, hi)
    if arr.dtype == object or arr.dtype.kind in ("U", "S"):
        return [None if e else py_op(vals[l:h]) for l, h, e in zip(lo, hi, empty)]
    st = _SparseTable(arr, op)
    res = st.query(lo, hi)
    out = res.tolist()
    return [None if e else v for v, e in zip(out, empty)]


def _k_min(vals, ts, lo, hi, part):
    return _minmax(vals, lo, hi, np.minimum, min)


def _k_max(vals, ts, lo, hi, part):
    return _minmax(vals, lo, hi, np.maximum, max)


def _k_first(vals, ts, lo, hi, part):
    empty = _empty_mask(lo, hi)
    return [None if e else vals[l] for l, e in zip(lo, empty)]


def _k_last(vals, ts, lo, hi, part):
    # first occurrence among equal max-ts rows (Last.update strict '<')
    empty = _empty_mask(lo, hi)
    hi_c = np.maximum(hi, 1)
    first_at_max = np.searchsorted(ts, ts[hi_c - 1], side="left")
    idx = np.maximum(first_at_max, lo)
    return [None if e else vals[i] for i, e in zip(idx, empty)]


def _k_last_k(vals, ts, lo, hi, part):
    k = part.k or 1
    return [None if h <= l else list(vals[max(l, h - k) : h][::-1]) for l, h in zip(lo, hi)]


def _k_first_k(vals, ts, lo, hi, part):
    k = part.k or 1
    return [None if h <= l else list(vals[l : min(h, l + k)]) for l, h in zip(lo, hi)]


def _k_top_k(vals, ts, lo, hi, part):
    k = part.k or 1
    arr = np.asarray(vals)
    out = []
    for l, h in zip(lo, hi):
        if h <= l:
            out.append(None)
        else:
            w = np.sort(arr[l:h], kind="stable")
            out.append(list(w[max(0, len(w) - k) :][::-1]))
    return out


def _k_bottom_k(vals, ts, lo, hi, part):
    k = part.k or 1
    arr = np.asarray(vals)
    out = []
    for l, h in zip(lo, hi):
        if h <= l:
            out.append(None)
        else:
            w = np.sort(arr[l:h], kind="stable")
            out.append(list(w[:k]))
    return out


def _prev_occurrence(vals) -> np.ndarray:
    codes, _ = pd.factorize(pd.Series(vals), use_na_sentinel=False)
    prev = pd.Series(np.arange(len(codes))).groupby(codes).shift(1)
    return prev.fillna(-1).to_numpy(dtype=np.int64)


def _k_unique_count(vals, ts, lo, hi, part):
    prev = _prev_occurrence(vals)
    return [None if h <= l else int(np.count_nonzero(prev[l:h] < l)) for l, h in zip(lo, hi)]


def _k_histogram(vals, ts, lo, hi, part):
    k = part.k  # optional top-k trim (SimpleAggregators.scala:263-335)
    codes, uniques = pd.factorize(pd.Series(vals), use_na_sentinel=False)
    uniq = [str(u) for u in uniques]
    out = []
    for l, h in zip(lo, hi):
        if h <= l:
            out.append(None)
            continue
        counts = np.bincount(codes[l:h], minlength=len(uniq))
        nz = np.nonzero(counts)[0]
        if k is not None and len(nz) > k:
            # deterministic trim: by count desc, then value asc
            items = sorted(((uniq[i], int(counts[i])) for i in nz), key=lambda kv: (-kv[1], kv[0]))
            out.append(dict(items[:k]))
        else:
            out.append({uniq[i]: int(counts[i]) for i in nz})
    return out


def _k_approx_percentile(vals, ts, lo, hi, part):
    pcts = [float(p) for p in part.args.get("percentiles", "[0.5]").strip("[] ").split(",")]
    x = np.asarray(vals, dtype=np.float64)
    return [
        None if h <= l else [float(v) for v in np.quantile(x[l:h], pcts)] for l, h in zip(lo, hi)
    ]


def _k_approx_unique_count(vals, ts, lo, hi, part):
    # exact fallback for CPC sketch (SimpleAggregators.scala:499-543); same
    # output type (long). Sketch-based mergeable IR is a later milestone.
    return _k_unique_count(vals, ts, lo, hi, part)


def _k_frequent_k(vals, ts, lo, hi, part):
    k = part.k or 1
    codes, uniques = pd.factorize(pd.Series(vals), use_na_sentinel=False)
    uniq = [str(u) for u in uniques]
    out = []
    for l, h in zip(lo, hi):
        if h <= l:
            out.append(None)
            continue
        counts = np.bincount(codes[l:h], minlength=len(uniq))
        nz = np.nonzero(counts)[0]
        # deterministic top-k: count desc, then value asc (the reference's
        # ItemsSketch leaves ties unspecified; we pin them)
        items = sorted(((uniq[i], int(counts[i])) for i in nz), key=lambda kv: (-kv[1], kv[0]))
        out.append(dict(items[:k]))
    return out


def _k_unique_top_k(vals, ts, lo, hi, part):
    # dedupe values, keep k largest (SimpleAggregators.scala:768-917)
    k = part.k or 1
    out = []
    for l, h in zip(lo, hi):
        if h <= l:
            out.append(None)
        else:
            w = pd.unique(np.asarray(vals[l:h]))
            w = np.sort(w, kind="stable")
            out.append(list(w[max(0, len(w) - k) :][::-1]))
    return out


KERNELS: dict[Operation, Callable] = {
    Operation.COUNT: _k_count,
    Operation.SUM: _k_sum,
    Operation.AVERAGE: _k_average,
    Operation.VARIANCE: _k_variance,
    Operation.SKEW: _k_skew,
    Operation.KURTOSIS: _k_kurtosis,
    Operation.MIN: _k_min,
    Operation.MAX: _k_max,
    Operation.FIRST: _k_first,
    Operation.LAST: _k_last,
    Operation.LAST_K: _k_last_k,
    Operation.FIRST_K: _k_first_k,
    Operation.TOP_K: _k_top_k,
    Operation.BOTTOM_K: _k_bottom_k,
    Operation.UNIQUE_COUNT: _k_unique_count,
    Operation.APPROX_UNIQUE_COUNT: _k_approx_unique_count,
    Operation.HISTOGRAM: _k_histogram,
    Operation.APPROX_PERCENTILE: _k_approx_percentile,
    Operation.APPROX_FREQUENT_K: _k_frequent_k,
    Operation.APPROX_HEAVY_HITTERS_K: _k_frequent_k,
    Operation.UNIQUE_TOP_K: _k_unique_top_k,
}


def run_kernel(
    part: AggregationPart,
    vals: Any,
    ts: np.ndarray,
    lo: np.ndarray,
    hi: np.ndarray,
) -> list:
    """vals: 1-d array-like of the part's input column, non-null filtered and
    sorted by (ts, stable original order); ts: matching int64 epoch-millis;
    lo/hi: per-query [lo, hi) index bounds into vals/ts."""
    return KERNELS[part.operation](vals, ts, lo, hi, part)
