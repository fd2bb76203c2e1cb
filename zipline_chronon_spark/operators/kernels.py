"""Prefix-sum and range-query helpers shared by the Arrow engine's
finishes (arrow_engine, entities_temporal, approx_engine).

The operator is chosen by its algebra, as in SlickDeque (EDBT 2018):
 - invertible ops (SUM / COUNT / AVERAGE / moments) read windows as
   differences of per-group prefix sums (``group_prefix`` +
   ``window_sums``);
 - idempotent ops (MIN / MAX) read them from a sparse table
   (``_SparseTable``): O(n log n) build, O(1) per query.

``group_first`` marks group starts in rows sorted by group id; every
prefix restarts there, so a window's result depends only on its own
group's rows. The row-at-a-time reference kernels these finishes are
checked against live in tests/kernel_oracle.py.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

# ---------------------------------------------------------------------------
# helpers


def group_first(gid: np.ndarray) -> np.ndarray:
    """Group-start mask of rows sorted by group id."""
    first = np.ones(len(gid), dtype=bool)
    first[1:] = gid[1:] != gid[:-1]
    return first


def group_prefix(x: np.ndarray, first: np.ndarray) -> np.ndarray:
    """Prefix sums that restart at every group (``first`` marks the group
    starts): ``pre[k]`` sums x from the start of row k-1's group through
    row k-1. A segmented Hillis-Steele scan, so each sum depends only on
    its own group's rows — never on which other groups share the chunk,
    which a chunk-wide cumsum's rounding does. Keeps x's float dtype."""
    n = len(x)
    s = np.array(x, dtype=np.result_type(x, np.float64))
    rows = np.arange(n)
    pos = rows - np.maximum.accumulate(np.where(first, rows, 0))
    d, top = 1, int(pos.max()) if n else 0
    while d <= top:
        i = np.flatnonzero(pos >= d)
        s[i] += s[i - d]
        d *= 2
    pre = np.zeros(n + 1, dtype=s.dtype)
    pre[1:] = s
    return pre


def window_sums(pre: np.ndarray, first: np.ndarray, lo: np.ndarray,
                hi: np.ndarray) -> np.ndarray:
    """Sums over windows [lo, hi), each inside one group, from
    ``group_prefix``; 0 for an empty window."""
    base = np.where(np.append(first, True)[lo], 0, pre[lo])
    return np.where(hi > lo, pre[hi] - base, 0)


class _SparseTable:
    """Idempotent-range-query structure: O(n log n) build, O(1) per query."""

    def __init__(self, x: np.ndarray, op: Callable):
        self.op = op
        self.levels = [x]
        j = 1
        while (1 << j) <= len(x):
            prev = self.levels[-1]
            half = 1 << (j - 1)
            self.levels.append(op(prev[: len(x) - (1 << j) + 1], prev[half : len(x) - half + 1]))
            j += 1

    def query(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        n = hi - lo
        out = np.empty(len(lo), dtype=self.levels[0].dtype)
        valid = n > 0
        if not valid.any():
            return out
        k = np.zeros(len(lo), dtype=np.int64)
        k[valid] = np.floor(np.log2(n[valid])).astype(np.int64)
        for kk in np.unique(k[valid]):
            m = valid & (k == kk)
            st = self.levels[kk]
            out[m] = self.op(st[lo[m]], st[hi[m] - (1 << kk)])
        return out
