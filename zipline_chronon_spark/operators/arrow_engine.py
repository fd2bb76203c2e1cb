"""Arrow-native chunk runner of the PIT engine, and the owner of its group
encoding.

Sorted batches arrive through ``mapInArrow``; ``whole_groups`` re-chunks
them on group boundaries (``group_starts``) and each chunk stays in Arrow
end to end:

 - int64/float64 columns reach numpy zero-copy (fill_null + is_valid),
 - FIRST/LAST/LAST_K/FIRST_K gather via ``pa.Array.take`` with null indices
   (no Python values ever created, any input type),
 - LAST_K/FIRST_K build ``ListArray.from_arrays`` with null offsets,
 - bucketed COUNT builds ``MapArray.from_arrays`` from a count matrix,
 - remaining ops (TOP_K, HISTOGRAM, percentiles, map inputs, …) fall back
   to the object-array kernels (kernels.py) for that column only.

Window bounds come from ``_tail_bounds`` over the group-encoded time
``(gid << _SHIFT) + (ts - base)``; the naive-oracle suite runs against
this path. The other sorted-group runners (entities_temporal, the approx
serve and the sketch tile builder) share ``group_starts`` and
``whole_groups``.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

from zipline_chronon_spark.api import AggregationPart, Operation
from zipline_chronon_spark.operators import kernels, segments

_SHIFT = 44  # bits reserved for (ts - base); 2^44 ms ≈ 557 years

_NUMERIC_PA = (pa.types.is_integer, pa.types.is_floating, pa.types.is_boolean)


def _is_numeric(dt: pa.DataType) -> bool:
    return any(f(dt) for f in _NUMERIC_PA)


def _np_int64(arr: pa.Array) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _valid_np(arr: pa.Array) -> np.ndarray:
    if arr.null_count == 0:
        return np.ones(len(arr), dtype=bool)
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _numeric_np(arr: pa.Array) -> np.ndarray:
    """Values at invalid positions are arbitrary (masked out by callers)."""
    if arr.null_count:
        arr = arr.fill_null(0)
    out = arr.to_numpy(zero_copy_only=False)
    if out.dtype == np.bool_:
        out = out.astype(np.int64)
    return out


def _tail_bounds(enc_f, gid_q, q_ts, base, part, snapshot):
    q_enc = (gid_q << _SHIFT) + (q_ts - base)
    hi = np.searchsorted(enc_f, q_enc, side="right")
    if part.window is None:
        lo = np.searchsorted(enc_f, gid_q << _SHIFT, side="left")
    else:
        if snapshot:
            tail_abs = q_ts + 1 - part.window.millis
        else:
            hop = part.window.tail_hop_millis()
            tail_abs = ((q_ts - part.window.millis) // hop) * hop
        rel = np.maximum(tail_abs - base, 0)
        lo = np.searchsorted(enc_f, (gid_q << _SHIFT) + rel, side="left")
    return np.minimum(lo, hi), hi


def group_starts(tbl: pa.Table, keys: list[str]) -> np.ndarray:
    """Group-start mask of a key-sorted table: row i starts a group when any
    key differs from row i-1's. A null key equals nothing, so every
    null-key row is a group of its own and matches no other row."""
    n = tbl.num_rows
    start = np.zeros(n, dtype=bool)
    start[:1] = True
    if n > 1:
        for k in keys:
            a = tbl.column(k)
            same = pc.fill_null(pc.equal(a.slice(1), a.slice(0, n - 1)), False)
            start[1:] |= ~same.to_numpy(zero_copy_only=False)
    return start


def whole_groups(batches: Iterator[pa.RecordBatch], keys: list[str]
                 ) -> Iterator[tuple[pa.Table, np.ndarray]]:
    """Re-chunk key-sorted batches into tables of whole groups, each yielded
    with its ``group_starts`` mask. The trailing group of a batch is carried
    into the next, so peak memory is one batch plus the largest group (hot
    keys are split upstream by time-slice salting)."""
    carry: Optional[pa.Table] = None
    carry_start = np.zeros(0, dtype=bool)
    for rb in batches:
        if rb.num_rows == 0:
            continue
        tbl = pa.Table.from_batches([rb])
        start = group_starts(tbl, keys)
        if carry is not None:
            # only the seam row needs comparing to the carried group
            seam = pa.concat_tables([carry.slice(carry.num_rows - 1), tbl.slice(0, 1)])
            start[0] = group_starts(seam, keys)[1]
            tbl = pa.concat_tables([carry, tbl])
            start = np.concatenate([carry_start, start])
        last = int(np.flatnonzero(start)[-1])
        carry, carry_start = tbl.slice(last), start[last:]
        if last:
            yield tbl.slice(0, last), start[:last]
    if carry is not None:
        yield carry, carry_start


def _masked_pa(values: np.ndarray, empty: np.ndarray, pa_type: pa.DataType) -> pa.Array:
    return pa.array(values, type=pa_type, mask=empty)


def _kop_list_array(vals_arr: pa.Array, fpos, lo, hi, k, pa_list_type, ascending):
    """LAST_K/FIRST_K as ListArray: flat take indices + null offsets."""
    cnt = np.minimum(hi - lo, k)
    np.clip(cnt, 0, None, out=cnt)
    total = int(cnt.sum())
    starts = np.zeros(len(cnt) + 1, dtype=np.int64)
    np.cumsum(cnt, out=starts[1:])
    seg = np.arange(total, dtype=np.int64) - np.repeat(starts[:-1], cnt)
    if ascending:
        flat = np.repeat(lo, cnt) + seg
    else:
        flat = np.repeat(hi - 1, cnt) - seg
    take_idx = pa.array(fpos[flat], type=pa.int64())
    values = vals_arr.take(take_idx)
    offs_np = starts.astype(np.int32)
    null_mask = np.zeros(len(cnt) + 1, dtype=bool)
    null_mask[:-1] = (hi - lo) <= 0  # last offset must stay non-null
    offsets = pa.array(offs_np, type=pa.int32(), mask=null_mask)
    return pa.ListArray.from_arrays(offsets, values, type=pa_list_type)


def _take_at(vals_arr: pa.Array, fpos, idx, empty) -> pa.Array:
    gi = fpos[np.where(empty, 0, idx)]
    take_idx = pa.array(np.where(empty, -1, gi), type=pa.int64(),
                        mask=empty)
    return vals_arr.take(take_idx)


def process_chunk_arrow(
    tbl: pa.Table,
    start: np.ndarray,
    parts: list[AggregationPart],
    part_types: list[T.DataType],
    passthrough: list[str],
    out_schema: pa.Schema,
    query_range_ms: Optional[tuple[int, int]],
    snapshot: bool,
    ts_col: str,
    side_col: str,
    row_id_col: str,
) -> pa.RecordBatch:
    tbl = tbl.combine_chunks()
    n = tbl.num_rows
    cols = {name: (tbl.column(name).chunk(0) if tbl.column(name).num_chunks else
                   pa.array([], type=tbl.schema.field(name).type))
            for name in tbl.schema.names}

    gid = np.cumsum(start, dtype=np.int64) - 1
    ts = _np_int64(cols[ts_col])
    base = int(ts.min()) if n else 0
    enc_all = (gid << _SHIFT) + (ts - base)
    side = _np_int64(cols[side_col])
    is_ev = side != 1
    is_q = side >= 1
    if query_range_ms is not None:
        is_q &= (ts >= query_range_ms[0]) & (ts < query_range_ms[1])
    ev_idx = np.flatnonzero(is_ev)
    q_idx = np.flatnonzero(is_q)
    gid_q = gid[q_idx]
    q_ts = ts[q_idx]
    n_q = len(q_idx)
    q_take = pa.array(q_idx, type=pa.int64())

    out_arrays: list[pa.Array] = [cols[row_id_col].take(q_take)]
    for c in passthrough:
        out_arrays.append(cols[c].take(q_take))

    for part, in_t in zip(parts, part_types):
        f = out_schema.field(part.output_name)
        col = cols[part.input_column]
        valid = _valid_np(col)
        use_fallback = (
            isinstance(in_t, (T.ArrayType, T.MapType))
            or (part.bucket is not None and part.operation != Operation.COUNT)
        )
        if use_fallback:
            out_arrays.append(_fallback_part(
                part, in_t, col, cols, valid, is_ev, enc_all, gid_q, q_ts, base,
                snapshot, n_q, f.type))
            continue

        if part.bucket is not None:  # vectorized bucketed COUNT
            bcol = cols[part.bucket]
            bvalid = valid & _valid_np(bcol) & is_ev
            fpos = np.flatnonzero(bvalid)
            if not len(fpos):
                out_arrays.append(pa.nulls(n_q, f.type))
                continue
            enc_f = enc_all[fpos]
            denc = pc.dictionary_encode(bcol.take(pa.array(fpos, type=pa.int64())))
            codes = _np_int64(denc.indices)
            bvals = [str(v) for v in denc.dictionary.to_pylist()]
            n_b = len(bvals)
            C = np.zeros((n_q, n_b), dtype=np.int64)
            for b in range(n_b):
                sel = codes == b
                lo, hi = _tail_bounds(enc_f[sel], gid_q, q_ts, base, part, snapshot)
                C[:, b] = hi - lo
            nz = C > 0
            cnt_q = nz.sum(axis=1).astype(np.int64)
            offs = np.zeros(n_q + 1, dtype=np.int64)
            np.cumsum(cnt_q, out=offs[1:])
            flat_b = np.nonzero(nz)[1]
            keys_arr = pa.array(bvals, type=pa.string()).take(
                pa.array(flat_b, type=pa.int64()))
            items_arr = pa.array(C[nz], type=pa.int64())
            null_mask = np.zeros(n_q + 1, dtype=bool)
            null_mask[:-1] = cnt_q == 0
            offsets = pa.array(offs.astype(np.int32), type=pa.int32(), mask=null_mask)
            out_arrays.append(pa.MapArray.from_arrays(offsets, keys_arr, items_arr))
            continue

        mask = valid & is_ev
        fpos = np.flatnonzero(mask)
        if not len(fpos):
            out_arrays.append(pa.nulls(n_q, f.type))
            continue
        enc_f = enc_all[fpos]
        lo, hi = _tail_bounds(enc_f, gid_q, q_ts, base, part, snapshot)
        empty = hi <= lo
        op = part.operation

        if op == Operation.COUNT:
            out_arrays.append(_masked_pa((hi - lo).astype(np.int64), empty, f.type))
        elif op in (Operation.SUM, Operation.AVERAGE, Operation.VARIANCE,
                    Operation.SKEW, Operation.KURTOSIS):
            if op == Operation.SUM and pa.types.is_integer(f.type):
                # exact long arithmetic (reference keeps JVM long; int64
                # wrap-on-overflow matches) — float64 prefix sums would lose
                # low-order bits past 2^53 cumulative magnitude
                xi = _numeric_np(col)[fpos].astype(np.int64, copy=False)
                prei = np.zeros(len(xi) + 1, dtype=np.int64)
                np.cumsum(xi, out=prei[1:])
                out_arrays.append(_masked_pa(prei[hi] - prei[lo], empty, f.type))
                continue
            x = _numeric_np(col)[fpos].astype(np.float64, copy=False)
            nw = (hi - lo).astype(np.float64)
            gf = enc_f >> _SHIFT
            first = kernels.group_first(gf)
            with np.errstate(invalid="ignore", divide="ignore"):
                if op == Operation.SUM:
                    res = kernels.window_sums(kernels.group_prefix(x, first), first, lo, hi)
                elif op == Operation.AVERAGE:
                    res = kernels.window_sums(kernels.group_prefix(x, first), first, lo, hi) / nw
                else:
                    # center per GROUP (every window lies inside one group,
                    # so a group-constant shift keeps the prefix algebra
                    # exact while minimizing |window mean − center|) and
                    # accumulate the power prefixes per group in x86
                    # extended precision, which keeps the engine-vs-oracle
                    # gap orders below the queries' 1e-7 rounding guard
                    if len(x):
                        cnt_g = np.bincount(gf)
                        sum_g = np.bincount(gf, weights=x)
                        mean_g = np.where(cnt_g > 0, sum_g / np.maximum(cnt_g, 1), 0.0)
                        c = (x - mean_g[gf]).astype(np.longdouble)
                    else:
                        c = x.astype(np.longdouble)
                    s = [kernels.window_sums(kernels.group_prefix(c ** p, first), first, lo, hi)
                         for p in range(1, 5)]
                    nwl = nw.astype(np.longdouble)
                    mu = s[0] / nwl
                    m2 = np.maximum(s[1] - nwl * mu ** 2, 0.0)
                    if op == Operation.VARIANCE:
                        res = (m2 / nwl).astype(np.float64)
                    elif op == Operation.SKEW:
                        m3 = s[2] - 3 * mu * s[1] + 2 * nwl * mu ** 3
                        res = np.where((nw < 3) | (m2 <= 0), np.nan,
                                       (np.sqrt(nwl) * m3 / np.power(m2, 1.5))
                                       .astype(np.float64))
                    else:
                        m4 = s[3] - 4 * mu * s[2] + 6 * mu ** 2 * s[1] - 3 * nwl * mu ** 4
                        res = np.where((nw < 4) | (m2 <= 0), np.nan,
                                       (nwl * m4 / (m2 * m2) - 3.0)
                                       .astype(np.float64))
            out_arrays.append(_masked_pa(res, empty, f.type))
        elif op in (Operation.MIN, Operation.MAX):
            npop = np.minimum if op == Operation.MIN else np.maximum
            if _is_numeric(col.type):
                x = _numeric_np(col)[fpos]
                st = kernels._SparseTable(x, npop)
                res = st.query(np.where(empty, 0, lo), np.where(empty, 1, hi))
                out_arrays.append(_masked_pa(res, empty, f.type))
            else:
                # strings: RMQ over lexicographic rank codes, values emitted
                # from the sorted dictionary (no per-row Python)
                ranked, sorted_dict = segments.rank_codes(col, fpos)
                st = kernels._SparseTable(ranked, npop)
                res = st.query(np.where(empty, 0, lo), np.where(empty, 1, hi))
                take = pa.array(np.where(empty, -1, res), type=pa.int64(), mask=empty)
                out_arrays.append(sorted_dict.take(take))
        elif op == Operation.FIRST:
            out_arrays.append(_take_at(col, fpos, lo, empty))
        elif op == Operation.LAST:
            hi_c = np.maximum(hi, 1)
            first_at_max = np.searchsorted(enc_f, enc_f[hi_c - 1], side="left")
            idx = np.maximum(first_at_max, lo)
            out_arrays.append(_take_at(col, fpos, idx, empty))
        elif op in (Operation.LAST_K, Operation.FIRST_K):
            out_arrays.append(_kop_list_array(
                col, fpos, lo, hi, part.k or 1, f.type,
                ascending=(op == Operation.FIRST_K)))
        elif op == Operation.UNIQUE_TOP_K and pa.types.is_struct(col.type):
            # struct{sort_key: string, unique_id: long} input shape
            st = col.take(pa.array(fpos, type=pa.int64()))
            uid = st.field("unique_id").to_numpy(zero_copy_only=False).astype(np.int64)
            sk_rank, _ = segments.rank_codes(st.field("sort_key"), np.arange(len(fpos)))
            out_arrays.append(segments.unique_topk_struct(
                col, fpos, uid, sk_rank, lo, hi, part.k or 1, f.type))
        elif op in (Operation.TOP_K, Operation.BOTTOM_K, Operation.UNIQUE_TOP_K):
            if _is_numeric(col.type):
                sort_key = _numeric_np(col)[fpos]
            else:
                sort_key, _ = segments.rank_codes(col, fpos)
            k = part.k or 1
            if op == Operation.UNIQUE_TOP_K:
                out_arrays.append(segments.unique_topk(col, fpos, sort_key, lo, hi, k, f.type))
            else:
                out_arrays.append(segments.topk_bottomk(
                    col, fpos, sort_key, lo, hi, k,
                    largest=(op == Operation.TOP_K), pa_list_type=f.type))
        elif op == Operation.APPROX_PERCENTILE:
            pcts = [float(p) for p in
                    part.args.get("percentiles", "[0.5]").strip("[] ").split(",")]
            x = _numeric_np(col)[fpos].astype(np.float64, copy=False)
            out_arrays.append(segments.percentiles(x, lo, hi, pcts, f.type))
        elif op in (Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT):
            codes, _ = segments.rank_codes(col, fpos)
            prev = segments.prev_occurrence(codes)
            if part.window is None:
                gid_f = enc_f >> _SHIFT
                gstart = np.searchsorted(gid_f, gid_f, side="left")
                out_arrays.append(segments.unique_count_unbounded(
                    prev, gstart, lo, hi, f.type))
            else:
                out_arrays.append(segments.unique_count(prev, lo, hi, f.type))
        elif op in (Operation.HISTOGRAM, Operation.APPROX_FREQUENT_K,
                    Operation.APPROX_HEAVY_HITTERS_K):
            codes, sorted_dict = segments.rank_codes(col, fpos)
            # map keys are str(value): only the small dictionary is touched
            uniq_strs = pa.array([str(v) for v in sorted_dict.to_pylist()],
                                 type=pa.string())
            by_count = op != Operation.HISTOGRAM
            k = part.k if by_count is False else (part.k or 1)
            out_arrays.append(segments.histogram_map(
                codes, uniq_strs, lo, hi, k, f.type, order_by_count=by_count))
        else:  # pragma: no cover — routed to fallback above
            raise NotImplementedError(op)

    names = [row_id_col, *passthrough, *[p.output_name for p in parts]]
    arrays = [a.cast(out_schema.field(nm).type) if a.type != out_schema.field(nm).type else a
              for a, nm in zip(out_arrays, names)]
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def _fallback_part(part, in_t, col, cols, valid, is_ev, enc_all, gid_q, q_ts, base,
                   snapshot, n_q, pa_type) -> pa.Array:
    """Object-array kernels for ops without an Arrow-native fast path —
    converts ONLY this column, and only its valid event rows."""
    from pyspark.sql import types as ST

    def to_obj(arr: pa.Array, pos: np.ndarray):
        taken = arr.take(pa.array(pos, type=pa.int64()))
        return np.array(taken.to_pylist(), dtype=object)

    def as_vals(pos: np.ndarray, eff_t):
        if isinstance(eff_t, (ST.LongType, ST.IntegerType, ST.ShortType, ST.ByteType,
                              ST.BooleanType)):
            return _numeric_np(col)[pos].astype(np.int64)
        if isinstance(eff_t, (ST.FloatType, ST.DoubleType)):
            return _numeric_np(col)[pos].astype(np.float64)
        return to_obj(col, pos)

    results: list
    if isinstance(in_t, ST.MapType):
        pos = np.flatnonzero(valid & is_ev)
        results = [None] * n_q
        arrow_keys = (isinstance(col, pa.MapArray)
                      and pa.types.is_string(col.type.key_type))
        if len(pos) and arrow_keys:
            # Arrow-native flatten: keys/items are contiguous child arrays,
            # so per-entry work is numpy — the old path materialized a
            # Python tuple list per row (to_pylist) plus str(k) per entry
            ma = col.take(pa.array(pos, type=pa.int64()))
            offs = ma.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            lens = offs[1:] - offs[:-1]
            enc_rep = np.repeat(enc_all[pos], lens)
            # MapArray.keys/.items are the offset-adjusted flattened children
            keys_f, items_f = ma.keys, ma.items
            denc = pc.dictionary_encode(keys_f)
            kcodes = _np_int64(denc.indices)
            # first-appearance dictionary order == the old dict.fromkeys order
            kdict = [str(v) for v in denc.dictionary.to_pylist()]
            it_valid = _valid_np(items_f)
            long_vals = isinstance(
                in_t.valueType, (ST.ByteType, ST.ShortType, ST.IntegerType,
                                 ST.LongType, ST.BooleanType))
            mvals_obj = None  # lazy: only for non-numeric items
            for ci, mk in enumerate(kdict):
                sel = (kcodes == ci) & it_valid
                if not sel.any():
                    continue
                pos_f = np.flatnonzero(sel)
                if _is_numeric(items_f.type):
                    vs = _numeric_np(items_f)[pos_f]
                    vs = vs.astype(np.int64 if long_vals else np.float64)
                else:
                    if mvals_obj is None:
                        mvals_obj = np.array(items_f.to_pylist(), dtype=object)
                    vs = mvals_obj[pos_f]
                enc_sel = enc_rep[pos_f]
                lo, hi = _tail_bounds(enc_sel, gid_q, q_ts, base, part, snapshot)
                res = kernels.run_kernel(part, vs, enc_sel, lo, hi)
                for i, r in enumerate(res):
                    if r is not None:
                        if results[i] is None:
                            results[i] = {}
                        results[i][mk] = r
        elif len(pos):
            items = to_obj(col, pos)
            lens = np.array([len(d) for d in items], dtype=np.int64)
            enc_rep = np.repeat(enc_all[pos], lens)
            # MapArray.to_pylist yields list-of-(k,v)-tuples (np.array with
            # dtype=object can silently turn the inner lists into ndarrays)
            mkeys = np.array([str(k) for d in items for k, _ in d], dtype=object)
            mvals = np.array([v for d in items for _, v in d], dtype=object)
            vmask = np.array([v is not None for v in mvals], dtype=bool)
            enc_rep, mkeys, mvals = enc_rep[vmask], mkeys[vmask], mvals[vmask]
            for mk in dict.fromkeys(mkeys):
                sel = mkeys == mk
                lo, hi = _tail_bounds(enc_rep[sel], gid_q, q_ts, base, part, snapshot)
                res = kernels.run_kernel(part, mvals[sel], enc_rep[sel], lo, hi)
                for i, r in enumerate(res):
                    if r is not None:
                        if results[i] is None:
                            results[i] = {}
                        results[i][str(mk)] = r
    elif part.bucket is not None:
        bcol = cols[part.bucket]
        pos = np.flatnonzero(valid & _valid_np(bcol) & is_ev)
        results = [None] * n_q
        if len(pos):
            eff_t = in_t.elementType if isinstance(in_t, ST.ArrayType) else in_t
            if isinstance(in_t, ST.ArrayType):
                lists = to_obj(col, pos)
                lens = np.array([len(x) for x in lists], dtype=np.int64)
                enc_b = np.repeat(enc_all[pos], lens)
                bobj = np.repeat(to_obj(bcol, pos), lens)
                vals_b = np.array([v for x in lists for v in x], dtype=object)
            else:
                enc_b = enc_all[pos]
                bobj = to_obj(bcol, pos)
                vals_b = as_vals(pos, eff_t)
            for bv in dict.fromkeys(bobj):
                sel = bobj == bv
                lo, hi = _tail_bounds(enc_b[sel], gid_q, q_ts, base, part, snapshot)
                res = kernels.run_kernel(part, vals_b[sel], enc_b[sel], lo, hi)
                for i, r in enumerate(res):
                    if r is not None:
                        if results[i] is None:
                            results[i] = {}
                        results[i][str(bv)] = r
    else:
        pos = np.flatnonzero(valid & is_ev)
        if not len(pos):
            return pa.nulls(n_q, pa_type)
        if isinstance(in_t, ST.ArrayType) and isinstance(
                col, (pa.ListArray, pa.LargeListArray)):
            # Arrow-native explode: lengths + flatten are child-buffer
            # operations; the old path built a Python list per row
            la = col.take(pa.array(pos, type=pa.int64()))
            lens = pc.list_value_length(la).to_numpy(
                zero_copy_only=False).astype(np.int64)
            enc_f = np.repeat(enc_all[pos], lens)
            flat_arr = la.flatten()
            fm = _valid_np(flat_arr)
            enc_f = enc_f[fm]
            if not len(enc_f):
                return pa.nulls(n_q, pa_type)
            if _is_numeric(flat_arr.type):
                el_long = isinstance(
                    in_t.elementType, (ST.ByteType, ST.ShortType,
                                       ST.IntegerType, ST.LongType,
                                       ST.BooleanType))
                vals_f = _numeric_np(flat_arr)[fm].astype(
                    np.int64 if el_long else np.float64)
            else:
                vals_f = np.array(flat_arr.to_pylist(), dtype=object)[fm]
            lo, hi = _tail_bounds(enc_f, gid_q, q_ts, base, part, snapshot)
            results = kernels.run_kernel(part, vals_f, enc_f, lo, hi)
        elif isinstance(in_t, ST.ArrayType):
            lists = to_obj(col, pos)
            lens = np.array([len(x) for x in lists], dtype=np.int64)
            enc_f = np.repeat(enc_all[pos], lens)
            flat = np.array([v for x in lists for v in x], dtype=object)
            fm = np.array([v is not None for v in flat], dtype=bool)
            enc_f, flat = enc_f[fm], flat[fm]
            if not len(enc_f):
                return pa.nulls(n_q, pa_type)
            lo, hi = _tail_bounds(enc_f, gid_q, q_ts, base, part, snapshot)
            results = kernels.run_kernel(part, flat, enc_f, lo, hi)
        else:
            enc_f = enc_all[pos]
            vals = as_vals(pos, in_t)
            lo, hi = _tail_bounds(enc_f, gid_q, q_ts, base, part, snapshot)
            results = kernels.run_kernel(part, vals, enc_f, lo, hi)
    results = [list(r.items()) if isinstance(r, dict) else r for r in results]
    return pa.array(results, type=pa_type)


def make_arrow_runner(parts, part_types, keys, out_schema_spark, passthrough,
                      query_range_ms, snapshot, ts_col, side_col, row_id_col):
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(out_schema_spark)

    def runner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tbl, start in whole_groups(batches, keys):
            out = process_chunk_arrow(
                tbl, start, parts, part_types, passthrough, out_schema,
                query_range_ms, snapshot, ts_col, side_col, row_id_col)
            if out.num_rows:
                yield out

    return runner
