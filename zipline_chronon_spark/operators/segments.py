"""Vectorized segment finishes for range-query aggregations.

The PIT engine answers Q window queries per chunk as index ranges
``[lo[i], hi[i])`` into a single time-sorted value array. The simple ops
(COUNT/SUM/moments/MIN/MAX/FIRST/LAST/K-recency) have O(n+q) closed forms
(prefix sums, sparse tables, boundary takes) in arrow_engine. The ops here
(TOP_K, BOTTOM_K, UNIQUE_TOP_K, percentiles, UNIQUE_COUNT, HISTOGRAM,
FREQUENT_K) need the *contents* of each range, so their cost floor is
Sigma(hi-lo). A per-query Python loop pays it in interpreted code; this
module pays it once, in numpy:

  1. expand all ranges into one flat gather index + segment id
     (np.repeat/arange, zero Python),
  2. one lexsort of (segment, sort-key),
  3. per-op vectorized finish over the sorted flat array,
  4. Arrow ListArray/MapArray emission via offset arrays.

String inputs never materialize Python objects: Arrow dictionary-encodes
the column and the finishes operate on *rank codes* (dictionary indices
remapped through the sort order of the dictionary), so value comparisons
are lexicographic without touching the strings.

Semantics are pinned to the row-at-a-time reference kernels in
tests/kernel_oracle.py (same reference citations:
aggregator/.../base/SimpleAggregators.scala 263-335 HISTOGRAM top-k trim,
400-491 ItemsSketch-style FREQUENT_K, 768-917 UNIQUE_TOP_K) and verified
by tests/test_segments.py comparing every finish against them on
randomized inputs.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa


def expand(lo: np.ndarray, hi: np.ndarray):
    """Flat gather indexes for all ranges.

    Returns (flat, seg_id, cnt, starts): ``flat[starts[s]:starts[s+1]]``
    are the positions of segment s in ascending order; seg_id labels each
    flat element with its segment.
    """
    cnt = np.maximum(hi - lo, 0).astype(np.int64)
    starts = np.zeros(len(cnt) + 1, dtype=np.int64)
    np.cumsum(cnt, out=starts[1:])
    total = int(starts[-1])
    seg_off = np.arange(total, dtype=np.int64) - np.repeat(starts[:-1], cnt)
    flat = np.repeat(lo, cnt) + seg_off
    seg_id = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    return flat, seg_id, cnt, starts


def _head_indices(starts: np.ndarray, cnt: np.ndarray, k: np.ndarray | int):
    """Indices of the first min(cnt,k) elements of each segment in a
    segment-sorted flat array; returns (idx, out_cnt, out_starts)."""
    kc = np.minimum(cnt, k).astype(np.int64)
    np.clip(kc, 0, None, out=kc)
    ostarts = np.zeros(len(kc) + 1, dtype=np.int64)
    np.cumsum(kc, out=ostarts[1:])
    total = int(ostarts[-1])
    off = np.arange(total, dtype=np.int64) - np.repeat(ostarts[:-1], kc)
    idx = np.repeat(starts[:-1], kc) + off
    return idx, kc, ostarts


def _tail_indices(starts: np.ndarray, cnt: np.ndarray, k: int):
    """Indices of the last min(cnt,k) elements of each segment, emitted in
    DESCENDING order (largest-first for TOP_K)."""
    kc = np.minimum(cnt, k).astype(np.int64)
    np.clip(kc, 0, None, out=kc)
    ostarts = np.zeros(len(kc) + 1, dtype=np.int64)
    np.cumsum(kc, out=ostarts[1:])
    total = int(ostarts[-1])
    off = np.arange(total, dtype=np.int64) - np.repeat(ostarts[:-1], kc)
    idx = np.repeat(starts[:-1] + cnt - 1, kc) - off
    return idx, kc, ostarts


def _list_array(values: pa.Array, kc: np.ndarray, empty: np.ndarray,
                pa_list_type: pa.DataType) -> pa.ListArray:
    ostarts = np.zeros(len(kc) + 1, dtype=np.int64)
    np.cumsum(kc, out=ostarts[1:])
    null_mask = np.zeros(len(kc) + 1, dtype=bool)
    null_mask[:-1] = empty
    offsets = pa.array(ostarts.astype(np.int32), type=pa.int32(), mask=null_mask)
    return pa.ListArray.from_arrays(offsets, values, type=pa_list_type)


def rank_codes(col: pa.Array, fpos: np.ndarray):
    """Dictionary-encode col[fpos] and remap indices to lexicographic ranks.

    Returns (codes int64, uniq: list[str] in rank order, dict_values
    pa.Array in rank order). No per-row Python — only the (small)
    dictionary is touched object-wise.
    """
    import pyarrow.compute as pc

    denc = pc.dictionary_encode(col.take(pa.array(fpos, type=pa.int64())))
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_arr = denc.dictionary
    # rank dictionary values: numeric dictionaries sort numerically,
    # strings lexicographically (both match Python's ordering)
    try:
        dvals = dict_arr.to_numpy(zero_copy_only=False)
        order = np.argsort(dvals, kind="stable")
    except (pa.ArrowInvalid, TypeError, ValueError):
        order = np.argsort(np.array(dict_arr.to_pylist(), dtype=object), kind="stable")
    rank_of = np.empty(len(order), dtype=np.int64)
    rank_of[order] = np.arange(len(order), dtype=np.int64)
    ranked = rank_of[codes]
    sorted_dict = dict_arr.take(pa.array(order, type=pa.int64()))
    return ranked, sorted_dict


def topk_bottomk(col: pa.Array, fpos: np.ndarray, sort_key: np.ndarray,
                 lo: np.ndarray, hi: np.ndarray, k: int, largest: bool,
                 pa_list_type: pa.DataType) -> pa.ListArray:
    """TOP_K / BOTTOM_K over each range, values emitted from the original
    Arrow column (type-preserving). sort_key: numeric array or rank codes
    aligned with fpos."""
    flat, seg_id, cnt, starts = expand(lo, hi)
    order = np.lexsort((sort_key[flat], seg_id))  # seg asc, value asc, stable
    if largest:
        idx, kc, _ = _tail_indices(starts, cnt, k)
    else:
        idx, kc, _ = _head_indices(starts, cnt, k)
    src = flat[order[idx]]
    values = col.take(pa.array(fpos[src], type=pa.int64()))
    return _list_array(values, kc, cnt == 0, pa_list_type)


def unique_topk(col: pa.Array, fpos: np.ndarray, sort_key: np.ndarray,
                lo: np.ndarray, hi: np.ndarray, k: int,
                pa_list_type: pa.DataType) -> pa.ListArray:
    """Distinct values per range, k largest, descending
    (SimpleAggregators.scala:768-917 scalar-input shape)."""
    flat, seg_id, cnt, starts = expand(lo, hi)
    sv = sort_key[flat]
    order = np.lexsort((sv, seg_id))
    sv_o, seg_o = sv[order], seg_id[order]
    keep = np.ones(len(order), dtype=bool)
    keep[1:] = (sv_o[1:] != sv_o[:-1]) | (seg_o[1:] != seg_o[:-1])
    didx = np.flatnonzero(keep)
    dseg = seg_o[didx]
    dcnt = np.bincount(dseg, minlength=len(cnt)).astype(np.int64)
    dstarts = np.zeros(len(dcnt) + 1, dtype=np.int64)
    np.cumsum(dcnt, out=dstarts[1:])
    idx, kc, _ = _tail_indices(dstarts, dcnt, k)
    src = flat[order[didx[idx]]]
    values = col.take(pa.array(fpos[src], type=pa.int64()))
    return _list_array(values, kc, cnt == 0, pa_list_type)


def unique_topk_struct(col: pa.Array, fpos: np.ndarray, uid: np.ndarray,
                       sk_rank: np.ndarray, lo: np.ndarray, hi: np.ndarray,
                       k: int, pa_list_type: pa.DataType) -> pa.ListArray:
    """UNIQUE_TOP_K over struct{sort_key, unique_id} input
    (SimpleAggregators.scala:768-917 + base/UniqueOrderByLimit.scala):
    within each range the FIRST occurrence per unique_id survives (later
    same-id rows are skipped at insert), then the k largest by sort_key,
    emitted descending. First-occurrence-in-range == prev-occurrence index
    < range start (the unique-count trick)."""
    prev = prev_occurrence(uid)
    flat, seg_id, cnt, _ = expand(lo, hi)
    keep = prev[flat] < np.repeat(lo, cnt)
    fidx, seg_f = flat[keep], seg_id[keep]
    # per segment: sort_key desc, ties by arrival order (stable TimSort
    # equivalence in the reference's final sort)
    order = np.lexsort((fidx, -sk_rank[fidx], seg_f))
    cnt2 = np.bincount(seg_f, minlength=len(cnt)).astype(np.int64)
    starts2 = np.zeros(len(cnt2) + 1, dtype=np.int64)
    np.cumsum(cnt2, out=starts2[1:])
    idx, kc, _ = _head_indices(starts2, cnt2, k)
    src = fidx[order[idx]]
    values = col.take(pa.array(fpos[src], type=pa.int64()))
    return _list_array(values, kc, cnt == 0, pa_list_type)


def percentiles(x: np.ndarray, lo: np.ndarray, hi: np.ndarray,
                pcts: list[float], pa_list_type: pa.DataType) -> pa.ListArray:
    """Exact quantiles (linear interpolation == np.quantile default) for
    every range; output list<double> of len(pcts) per query."""
    flat, seg_id, cnt, starts = expand(lo, hi)
    xv = x[flat].astype(np.float64, copy=False)
    order = np.lexsort((xv, seg_id))
    sv = xv[order]
    n_q = len(cnt)
    empty = cnt == 0
    res = np.empty((n_q, len(pcts)), dtype=np.float64)
    safe_cnt = np.maximum(cnt, 1)
    base = starts[:-1]
    for j, p in enumerate(pcts):
        posf = p * (safe_cnt - 1).astype(np.float64)
        ilo = np.floor(posf).astype(np.int64)
        frac = posf - ilo
        a = sv[np.minimum(base + ilo, starts[1:] - 1)] if len(sv) else np.zeros(n_q)
        b = sv[np.minimum(base + ilo + 1, starts[1:] - 1)] if len(sv) else np.zeros(n_q)
        res[:, j] = a * (1.0 - frac) + b * frac
    # offsets skip empty segments, so the flat values must too
    values = pa.array(res[~empty].reshape(-1), type=pa.float64())
    kc = np.where(empty, 0, len(pcts)).astype(np.int64)
    return _list_array(values, kc, empty, pa_list_type)


def prev_occurrence(codes: np.ndarray) -> np.ndarray:
    """prev[i] = largest j < i with codes[j] == codes[i], else -1.
    Pure numpy (argsort by code, stable keeps position order)."""
    n = len(codes)
    o = np.argsort(codes, kind="stable")
    prev = np.full(n, -1, dtype=np.int64)
    if n > 1:
        same = codes[o][1:] == codes[o][:-1]
        prev[o[1:][same]] = o[:-1][same]
    return prev


def unique_count(prev: np.ndarray, lo: np.ndarray, hi: np.ndarray,
                 pa_type: pa.DataType) -> pa.Array:
    """Exact distinct count per range: #{i in [lo,hi): prev[i] < lo}."""
    flat, seg_id, cnt, _ = expand(lo, hi)
    flags = prev[flat] < np.repeat(lo, cnt)
    res = np.bincount(seg_id[flags], minlength=len(cnt)).astype(np.int64)
    return pa.array(res, type=pa_type, mask=cnt == 0)


def unique_count_unbounded(prev: np.ndarray, gstart: np.ndarray,
                           lo: np.ndarray, hi: np.ndarray,
                           pa_type: pa.DataType) -> pa.Array:
    """O(n+q) distinct count for unbounded windows, where lo always equals
    the element's own group start: prefix-sum of first-occurrence flags."""
    first = (prev < gstart).astype(np.int64)
    pre = np.zeros(len(first) + 1, dtype=np.int64)
    np.cumsum(first, out=pre[1:])
    res = pre[hi] - pre[lo]
    return pa.array(res, type=pa_type, mask=hi <= lo)


def histogram_map(codes: np.ndarray, uniq_strs: pa.Array,
                  lo: np.ndarray, hi: np.ndarray, k: Optional[int],
                  pa_map_type: pa.DataType,
                  order_by_count: bool) -> pa.MapArray:
    """HISTOGRAM / APPROX_FREQUENT_K as MapArray.

    order_by_count=False: full histogram, entries by value rank, optional
    deterministic top-k trim (count desc, value asc) when k is set.
    order_by_count=True: FREQUENT_K — always trimmed to k, entries emitted
    count-desc/value-asc (ItemsSketch-style, ties pinned).
    """
    flat, seg_id, cnt, _ = expand(lo, hi)
    n_q = len(cnt)
    cf = codes[flat]
    order = np.lexsort((cf, seg_id))
    cs, ss = cf[order], seg_id[order]
    bound = np.ones(len(order), dtype=bool)
    bound[1:] = (cs[1:] != cs[:-1]) | (ss[1:] != ss[:-1])
    bidx = np.flatnonzero(bound)
    eseg = ss[bidx]
    ecode = cs[bidx]
    ecnt = np.diff(np.append(bidx, len(order))).astype(np.int64)

    need_trim = k is not None
    if need_trim:
        # per segment: order entries by (count desc, value rank asc)
        o2 = np.lexsort((ecode, -ecnt, eseg))
        eseg, ecode, ecnt = eseg[o2], ecode[o2], ecnt[o2]
        nseg = np.bincount(eseg, minlength=n_q).astype(np.int64)
        sstarts = np.zeros(n_q + 1, dtype=np.int64)
        np.cumsum(nseg, out=sstarts[1:])
        idx, kc, _ = _head_indices(sstarts, nseg, k)
        eseg, ecode, ecnt = eseg[idx], ecode[idx], ecnt[idx]
        if not order_by_count:
            # HISTOGRAM keeps map entries in value order after the trim
            o3 = np.lexsort((ecode, eseg))
            eseg, ecode, ecnt = eseg[o3], ecode[o3], ecnt[o3]
        per_seg = kc
    else:
        per_seg = np.bincount(eseg, minlength=n_q).astype(np.int64)

    keys_arr = uniq_strs.take(pa.array(ecode, type=pa.int64()))
    items_arr = pa.array(ecnt, type=pa.int64())
    offs = np.zeros(n_q + 1, dtype=np.int64)
    np.cumsum(per_seg, out=offs[1:])
    null_mask = np.zeros(n_q + 1, dtype=bool)
    null_mask[:-1] = cnt == 0
    offsets = pa.array(offs.astype(np.int32), type=pa.int32(), mask=null_mask)
    return pa.MapArray.from_arrays(offsets, keys_arr, items_arr).cast(pa_map_type)
