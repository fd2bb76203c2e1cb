"""Arrow-native chunk runner of the PIT engine, and the owner of its group
encoding.

Sorted batches arrive through ``mapInArrow``; ``whole_groups`` re-chunks
them on group boundaries (``group_starts``) and each chunk stays in Arrow
end to end. Every part runs through one op dispatch (``_finish``); input
shape is only a wrapper around it (``_unpack``):

 - int64/float64 columns reach numpy zero-copy (fill_null + is_valid),
 - FIRST/LAST/LAST_K/FIRST_K gather via ``pa.Array.take`` with null indices
   (no Python values ever created, any input type),
 - LAST_K/FIRST_K build ``ListArray.from_arrays`` with null offsets,
 - TOP_K, HISTOGRAM, percentiles and distinct counts run the segment
   finishes (segments.py),
 - list inputs flatten to their elements; map inputs and bucketed parts
   run the same finish once per map key or bucket value, and ``_map_of``
   gathers those results into one ``MapArray``.

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


def _unpack(part: AggregationPart, cols: dict, is_ev: np.ndarray, enc_all: np.ndarray):
    """Input shape as a wrapper around one op: returns ``(subkeys, units)``,
    each unit ``(values, fpos, enc_f)`` with ``fpos`` the positions of the
    valid event values in ``values`` (time order) and ``enc_f`` their
    group-encoded times. List inputs flatten to their elements; map inputs
    give one unit per map key, bucketed parts one per bucket value, named
    ``str(v)`` in first-appearance order (``subkeys`` is None otherwise).
    ColumnAggregator.scala:225-246 (VectorDispatcher, MapColumnAggregator,
    BucketedColumnAggregator)."""
    col = cols[part.input_column]
    keep = _valid_np(col) & is_ev
    sub = None if part.bucket is None else cols[part.bucket]
    if sub is not None:
        keep &= _valid_np(sub)
    pos = np.flatnonzero(keep)
    is_map = pa.types.is_map(col.type)
    if is_map or pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        nested = col.take(pa.array(pos, type=pa.int64()))
        offs = _np_int64(nested.offsets)
        rows = np.repeat(pos, np.diff(offs))
        if is_map:  # keys/items are whole children: cut them to the rows' span
            span = (int(offs[0]), int(offs[-1] - offs[0]))
            values, sub = nested.items.slice(*span), nested.keys.slice(*span)
        else:
            values = nested.flatten()
        fpos = np.flatnonzero(_valid_np(values))
        sub_at = fpos if is_map else rows[fpos]
        enc_f = enc_all[rows[fpos]]
    else:
        values, fpos, sub_at, enc_f = col, pos, pos, enc_all[pos]
    if sub is None:
        return None, [(values, fpos, enc_f)]
    denc = pc.dictionary_encode(sub.take(pa.array(sub_at, type=pa.int64())))
    codes = _np_int64(denc.indices)
    order = np.argsort(codes, kind="stable")  # stable: time order per subkey
    cuts = np.cumsum(np.bincount(codes, minlength=len(denc.dictionary)))[:-1]
    subkeys = [str(v) for v in denc.dictionary.to_pylist()]
    return subkeys, [(values, fpos[o], enc_f[o]) for o in np.split(order, cuts)]


def _map_of(subkeys: list[str], results: list[pa.Array], n_q: int,
            map_type: pa.DataType) -> pa.MapArray:
    """One map per query row from the per-subkey results: an entry wherever
    that subkey's result is valid, in subkey order; null for no entries."""
    if not results:
        return pa.nulls(n_q, map_type)
    item_type = map_type.item_type
    results = [r if r.type == item_type else r.cast(item_type) for r in results]
    valid = np.stack([_valid_np(r) for r in results], axis=1)
    q, s = np.nonzero(valid)  # row-major: by query row, then subkey
    cnt = valid.sum(axis=1)
    offs = np.zeros(n_q + 1, dtype=np.int32)
    np.cumsum(cnt, out=offs[1:])
    offsets = pa.array(offs, type=pa.int32(), mask=np.append(cnt == 0, False))
    keys = pa.array(subkeys, type=pa.string()).take(pa.array(s, type=pa.int64()))
    items = pa.concat_arrays(results).take(pa.array(s * n_q + q, type=pa.int64()))
    return pa.MapArray.from_arrays(offsets, keys, items, type=map_type)


def _finish(part: AggregationPart, values: pa.Array, fpos: np.ndarray, enc_f: np.ndarray,
            lo: np.ndarray, hi: np.ndarray, pa_type: pa.DataType) -> pa.Array:
    """One op over windows ``[lo, hi)`` into ``values[fpos]``: the single
    op dispatch of the PIT engine, in Arrow and numpy (no per-row Python)."""
    empty = hi <= lo
    op = part.operation
    if op == Operation.COUNT:
        return _masked_pa((hi - lo).astype(np.int64), empty, pa_type)
    elif op in (Operation.SUM, Operation.AVERAGE, Operation.VARIANCE,
                Operation.SKEW, Operation.KURTOSIS):
        if op == Operation.SUM and pa.types.is_integer(pa_type):
            # exact long arithmetic (reference keeps JVM long; int64
            # wrap-on-overflow matches) — float64 prefix sums would lose
            # low-order bits past 2^53 cumulative magnitude
            xi = _numeric_np(values)[fpos].astype(np.int64, copy=False)
            prei = np.zeros(len(xi) + 1, dtype=np.int64)
            np.cumsum(xi, out=prei[1:])
            return _masked_pa(prei[hi] - prei[lo], empty, pa_type)
        x = _numeric_np(values)[fpos].astype(np.float64, copy=False)
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
        return _masked_pa(res, empty, pa_type)
    elif op in (Operation.MIN, Operation.MAX):
        npop = np.minimum if op == Operation.MIN else np.maximum
        if _is_numeric(values.type):
            x = _numeric_np(values)[fpos]
            st = kernels._SparseTable(x, npop)
            res = st.query(np.where(empty, 0, lo), np.where(empty, 1, hi))
            return _masked_pa(res, empty, pa_type)
        # strings: RMQ over lexicographic rank codes, values emitted from
        # the sorted dictionary (no per-row Python)
        ranked, sorted_dict = segments.rank_codes(values, fpos)
        st = kernels._SparseTable(ranked, npop)
        res = st.query(np.where(empty, 0, lo), np.where(empty, 1, hi))
        take = pa.array(np.where(empty, -1, res), type=pa.int64(), mask=empty)
        return sorted_dict.take(take)
    elif op == Operation.FIRST:
        return _take_at(values, fpos, lo, empty)
    elif op == Operation.LAST:
        hi_c = np.maximum(hi, 1)
        first_at_max = np.searchsorted(enc_f, enc_f[hi_c - 1], side="left")
        idx = np.maximum(first_at_max, lo)
        return _take_at(values, fpos, idx, empty)
    elif op in (Operation.LAST_K, Operation.FIRST_K):
        return _kop_list_array(values, fpos, lo, hi, part.k or 1, pa_type,
                               ascending=(op == Operation.FIRST_K))
    elif op == Operation.UNIQUE_TOP_K and pa.types.is_struct(values.type):
        # struct{sort_key: string, unique_id: long} input shape
        st = values.take(pa.array(fpos, type=pa.int64()))
        uid = st.field("unique_id").to_numpy(zero_copy_only=False).astype(np.int64)
        sk_rank, _ = segments.rank_codes(st.field("sort_key"), np.arange(len(fpos)))
        return segments.unique_topk_struct(values, fpos, uid, sk_rank, lo, hi,
                                           part.k or 1, pa_type)
    elif op in (Operation.TOP_K, Operation.BOTTOM_K, Operation.UNIQUE_TOP_K):
        if _is_numeric(values.type):
            sort_key = _numeric_np(values)[fpos]
        else:
            sort_key, _ = segments.rank_codes(values, fpos)
        k = part.k or 1
        if op == Operation.UNIQUE_TOP_K:
            return segments.unique_topk(values, fpos, sort_key, lo, hi, k, pa_type)
        return segments.topk_bottomk(values, fpos, sort_key, lo, hi, k,
                                     largest=(op == Operation.TOP_K), pa_list_type=pa_type)
    elif op == Operation.APPROX_PERCENTILE:
        pcts = [float(p) for p in
                part.args.get("percentiles", "[0.5]").strip("[] ").split(",")]
        x = _numeric_np(values)[fpos].astype(np.float64, copy=False)
        return segments.percentiles(x, lo, hi, pcts, pa_type)
    elif op in (Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT):
        codes, _ = segments.rank_codes(values, fpos)
        prev = segments.prev_occurrence(codes)
        if part.window is None:
            gid_f = enc_f >> _SHIFT
            gstart = np.searchsorted(gid_f, gid_f, side="left")
            return segments.unique_count_unbounded(prev, gstart, lo, hi, pa_type)
        return segments.unique_count(prev, lo, hi, pa_type)
    elif op in (Operation.HISTOGRAM, Operation.APPROX_FREQUENT_K,
                Operation.APPROX_HEAVY_HITTERS_K):
        codes, sorted_dict = segments.rank_codes(values, fpos)
        # map keys are str(value): only the small dictionary is touched
        uniq_strs = pa.array([str(v) for v in sorted_dict.to_pylist()],
                             type=pa.string())
        by_count = op != Operation.HISTOGRAM
        k = part.k if by_count is False else (part.k or 1)
        return segments.histogram_map(codes, uniq_strs, lo, hi, k, pa_type,
                                      order_by_count=by_count)
    raise NotImplementedError(op)


def process_chunk_arrow(
    tbl: pa.Table,
    start: np.ndarray,
    parts: list[AggregationPart],
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
    q_idx = np.flatnonzero(is_q)
    gid_q = gid[q_idx]
    q_ts = ts[q_idx]
    n_q = len(q_idx)
    q_take = pa.array(q_idx, type=pa.int64())

    out_arrays: list[pa.Array] = [cols[row_id_col].take(q_take)]
    for c in passthrough:
        out_arrays.append(cols[c].take(q_take))

    for part in parts:
        out_type = out_schema.field(part.output_name).type
        subkeys, units = _unpack(part, cols, is_ev, enc_all)
        pa_type = out_type if subkeys is None else out_type.item_type
        results = []
        for values, fpos, enc_f in units:
            if not len(fpos):
                results.append(pa.nulls(n_q, pa_type))
                continue
            lo, hi = _tail_bounds(enc_f, gid_q, q_ts, base, part, snapshot)
            results.append(_finish(part, values, fpos, enc_f, lo, hi, pa_type))
        out_arrays.append(results[0] if subkeys is None else
                          _map_of(subkeys, results, n_q, out_type))

    names = [row_id_col, *passthrough, *[p.output_name for p in parts]]
    arrays = [a.cast(out_schema.field(nm).type) if a.type != out_schema.field(nm).type else a
              for a, nm in zip(out_arrays, names)]
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def make_arrow_runner(parts, keys, out_schema_spark, passthrough,
                      query_range_ms, snapshot, ts_col, side_col, row_id_col):
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(out_schema_spark)

    def runner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tbl, start in whole_groups(batches, keys):
            out = process_chunk_arrow(
                tbl, start, parts, passthrough, out_schema,
                query_range_ms, snapshot, ts_col, side_col, row_id_col)
            if out.num_rows:
                yield out

    return runner
