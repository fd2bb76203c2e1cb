"""Temporal (point-in-time) entities: snapshot + CDC mutation replay.

Reference semantics (GroupBy.temporalEntities, GroupBy.scala:193-342;
SawtoothMutationAggregator.scala:28-228): the feature at query time T on
day d is

    agg over  snapshot rows of partition d-1          (state at eod(d-1))
              with  row.ts >= round(T - w, tailHop)            [windowed]
    +/- agg over mutations of day d
              with  batchEnd <= mutation_ts < T   (strict head)
              and   round(T - w, tailHop) <= row.ts < T        [windowed]
              sign = -1 for before-images (is_before), +1 otherwise.

Vectorization insight (ours — the reference replays mutations row-by-row
per query): for linear, deletable operators (SUM / COUNT / AVERAGE via
(sum, count)) every row's contribution is a CONTIGUOUS INTERVAL of query
times:

    active for T in ( start,  theta )
      start = -inf                         for snapshot rows
              max(mutation_ts, row.ts)     for mutations (strict <)
      theta = (floor(row.ts/hop) + 1)*hop + w   (first T whose hop-aligned
              tail passes the row; +inf for unbounded windows)

so with queries sorted by ts inside each (key, day) group, the whole
replay collapses to difference arrays: +/- (sign * value) scattered at
``searchsorted`` positions, then one cumulative sum — no per-row Python,
no per-query loop, exactly the engine's style.

Operator support tiers (reference: BaseAggregator.delete THROWS for
non-deletable ops — BaseAggregator.scala:60-61 — and mutation backfill is
documented deletable-only, GroupBy.scala:588-591):
 - SUM / COUNT / AVERAGE: full reversal support via difference arrays.
 - HISTOGRAM: full reversal support (the reference's Histogram.delete
   decrements, SimpleAggregators.scala:324-326) via per-value difference
   arrays; entries whose count drops to <= 0 are omitted.
 - Everything else (MIN/MAX/FIRST/LAST/K-ops/distinct/percentiles):
   INSERT-ONLY replay — before-images are ignored, after-images apply.
   Exact for append-only mutation feeds; for feeds with reversals this is
   a documented over-approximation (the reference refuses the case
   entirely, throwing in delete). Implemented as filtered segment ranges
   (activation mask over the window range) finished by the batch kernels.
Buckets are supported on all tiers (per-bucket-value replay).
"""

from __future__ import annotations

import dataclasses
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zipline_chronon_spark.api import AggregationPart, EntitySource, GroupBy, Operation
from zipline_chronon_spark.operators import kernels, pit_join
from zipline_chronon_spark.operators.arrow_engine import _SHIFT, _tail_bounds, whole_groups

MS_DAY = 86_400_000

KIND_SNAPSHOT = 0
KIND_MUTATION = 1
KIND_QUERY = 2

DELETABLE = {Operation.SUM, Operation.COUNT, Operation.AVERAGE}
# insert-only ops finished by the batch kernels over filtered ranges
KERNEL_SAFE = {
    Operation.MIN, Operation.MAX, Operation.FIRST, Operation.LAST,
    Operation.LAST_K, Operation.FIRST_K, Operation.TOP_K, Operation.BOTTOM_K,
    Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT,
    Operation.APPROX_PERCENTILE, Operation.UNIQUE_TOP_K,
    Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS,
}

MUTATION_TS = "mutation_ts"
REVERSAL = "is_before"


def _validate(gb: GroupBy) -> None:
    for p in gb.parts():
        if p.operation not in KERNEL_SAFE and p.operation not in DELETABLE \
                and p.operation != Operation.HISTOGRAM:
            raise NotImplementedError(
                f"temporal entities: no mutation-path support for {p.operation.name}")


def compute_entities_temporal(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    row_id: str = pit_join.ROW_ID,
    query_time_col: str = "ts",
    num_partitions: Optional[int] = None,
    allow_insert_only: bool = False,
) -> DataFrame:
    """Point-in-time features over a mutable dimension. gb.sources must be
    one EntitySource with snapshot_table + mutation_table. Returns
    (row_id, feature columns…).

    ``allow_insert_only``: KERNEL_SAFE ops (MIN/MAX/FIRST/LAST/K-ops/
    distinct/percentiles) replay mutations insert-only — before-images are
    ignored. On a feed that actually CONTAINS reversals those features
    would silently include deleted/overwritten values (the reference
    throws in BaseAggregator.delete for these ops). So when a KERNEL_SAFE
    part is requested, this function probes the mutation feed for
    is_before rows and raises unless the caller opts in explicitly."""
    _validate(gb)
    (src,) = gb.sources
    assert isinstance(src, EntitySource) and src.mutation_table, (
        "compute_entities_temporal needs an EntitySource with a mutation_table")
    keys = list(gb.key_columns)
    inputs = pit_join._input_columns(gb)
    selects = src.query.selects or {}

    def proj(df: DataFrame, cols: list[str]) -> list:
        return [F.expr(selects.get(c, c)).alias(c) for c in cols]

    # snapshot rows of partition d-1 serve queries of day d (shifted join,
    # GroupBy.scala:240-247 withShiftedPartition)
    snap = pit_join._read_table(spark, src.snapshot_table)
    for w in src.query.wheres:
        snap = snap.where(w)
    t_expr = F.expr(src.query.time_column)
    t_dt = snap.select(t_expr.alias("t")).schema[0].dataType
    snap_r = snap.select(
        *proj(snap, keys + inputs),
        pit_join._time_to_millis(t_expr, t_dt).alias(pit_join.TS_COL),
        (F.unix_millis(F.to_timestamp(F.expr(src.partition_column), "yyyy-MM-dd"))
         / MS_DAY + 1).cast("long").alias("__day"),
        F.lit(KIND_SNAPSHOT).alias("__kind"),
        F.lit(0).cast("long").alias("__mut_ts"),
        F.lit(False).alias("__rev"),
        F.lit(0).cast("long").alias(pit_join.ROW_ID),
    )

    mut = pit_join._read_table(spark, src.mutation_table)
    for w in src.query.wheres:
        mut = mut.where(w)
    mt_dt = mut.select(t_expr.alias("t")).schema[0].dataType
    mut_ts_dt = mut.select(F.col(MUTATION_TS).alias("t")).schema[0].dataType
    mut_ms = pit_join._time_to_millis(F.col(MUTATION_TS), mut_ts_dt)
    mut_r = mut.select(
        *proj(mut, keys + inputs),
        pit_join._time_to_millis(t_expr, mt_dt).alias(pit_join.TS_COL),
        (mut_ms / MS_DAY).cast("long").alias("__day"),
        F.lit(KIND_MUTATION).alias("__kind"),
        mut_ms.alias("__mut_ts"),
        F.col(REVERSAL).cast("boolean").alias("__rev"),
        F.lit(0).cast("long").alias(pit_join.ROW_ID),
    )

    kernel_ops = sorted({p.operation.name for p in gb.parts()
                         if p.operation in KERNEL_SAFE})
    if kernel_ops and not allow_insert_only:
        # one bounded probe (limit 1): insert-only replay is only exact on
        # append-only feeds; fail loudly instead of silently including
        # reversed rows in non-deletable aggregates
        has_rev = bool(mut.where(F.col(REVERSAL).cast("boolean")).limit(1).count())
        if has_rev:
            raise ValueError(
                f"mutation feed contains before-images but {kernel_ops} only "
                "support insert-only replay (reference BaseAggregator.delete "
                "throws here, BaseAggregator.scala:60-61); pass "
                "allow_insert_only=True to accept the over-approximation")

    q_dt = queries.select(F.expr(query_time_col).alias("t")).schema[0].dataType
    q_ms = pit_join._time_to_millis(F.expr(query_time_col), q_dt)
    q_r = queries.select(
        *[F.col(k) for k in keys],
        *[F.lit(None).cast(snap_r.schema[c].dataType).alias(c) for c in inputs],
        q_ms.alias(pit_join.TS_COL),
        (q_ms / MS_DAY).cast("long").alias("__day"),
        F.lit(KIND_QUERY).alias("__kind"),
        F.lit(0).cast("long").alias("__mut_ts"),
        F.lit(False).alias("__rev"),
        F.col(row_id).alias(pit_join.ROW_ID),
    )

    union = snap_r.unionByName(mut_r).unionByName(q_r)
    group_keys = keys + ["__day"]
    shuffled = (union.repartition(num_partitions, *group_keys) if num_partitions
                else union.repartition(*group_keys))
    # queries must be ts-sorted within each (key, day) group; snapshot rows
    # and mutations are index-accessed, their order is irrelevant
    arranged = shuffled.sortWithinPartitions(*group_keys, pit_join.TS_COL)

    parts = gb.parts()
    ev_schema = {f.name: f.dataType for f in snap_r.schema.fields}
    fields = [T.StructField(pit_join.ROW_ID, T.LongType(), False)]
    for p in parts:
        fields.append(pit_join.output_field(p, ev_schema[p.input_column]))
    out_schema = T.StructType(fields)

    runner = _make_runner(parts, ev_schema, group_keys, out_schema)
    return arranged.mapInArrow(runner, schema=out_schema)


def _theta(ts: np.ndarray, part: AggregationPart) -> np.ndarray:
    """First query time whose hop-aligned tail passes a row at ``ts``."""
    if part.window is None:
        return np.full(len(ts), np.iinfo(np.int64).max, dtype=np.int64)
    hop = part.window.tail_hop_millis()
    return (ts // hop + 1) * hop + part.window.millis


def _chunk(pdf: pd.DataFrame, gid: np.ndarray, parts, ev_schema) -> pd.DataFrame:
    ts = pdf[pit_join.TS_COL].to_numpy(dtype=np.int64)
    kind = pdf["__kind"].to_numpy()
    is_q = kind == KIND_QUERY
    q_pos = np.flatnonzero(is_q)
    n_q = len(q_pos)
    base = int(ts.min()) if len(ts) else 0
    enc = (gid << _SHIFT) + (ts - base)
    q_enc = enc[q_pos]
    q_first = kernels.group_first(gid[q_pos])

    is_snap = kind == KIND_SNAPSHOT
    is_mut = kind == KIND_MUTATION
    sign = np.where(pdf["__rev"].to_numpy(dtype=bool), -1.0, 1.0)
    mut_ts = pdf["__mut_ts"].to_numpy(dtype=np.int64)

    neg_inf = np.full(len(pdf), base - 1, dtype=np.int64)  # snapshot: always started
    # strict head: mutations activate after max(mutation_ts, row.ts)
    mut_start = np.maximum(mut_ts, ts)
    start_all = np.where(is_snap, neg_inf, mut_start)
    ones = np.ones(len(pdf), dtype=np.float64)
    q_ts = ts[q_pos]

    data: dict = {pit_join.ROW_ID: pdf[pit_join.ROW_ID].to_numpy(dtype=np.int64)[q_pos]}
    for part in parts:
        col = pdf[part.input_column]
        valid = col.notna().to_numpy()
        snap_m = is_snap & valid
        mut_m = is_mut & valid
        in_t = ev_schema[part.input_column]

        def deltas(rows_mask, start_excl, weights):
            """Scatter +w at first query with T > start, -w at first query
            with T >= theta, both inside the row's group; the per-group
            prefix sum is the per-query contribution."""
            idx = np.flatnonzero(rows_mask)
            if not len(idx):
                return np.zeros(n_q, dtype=np.float64)
            g = gid[idx]
            th = _theta(ts[idx], part)
            th_rel = np.clip(th - base, 0, (1 << _SHIFT) - 1)
            start_rel = np.clip(start_excl[idx] - base, -1, (1 << _SHIFT) - 1)
            add_pos = np.searchsorted(q_enc, (g << _SHIFT) + start_rel, side="right")
            sub_pos = np.searchsorted(q_enc, (g << _SHIFT) + th_rel, side="left")
            # empty interval when the window exit precedes activation (e.g. a
            # before-image of a row already outside the window)
            sub_pos = np.maximum(sub_pos, add_pos)
            # a delta past the group's last query reaches none of its queries
            end = np.searchsorted(q_enc, (g + 1) << _SHIFT, side="left")
            w = weights[idx]
            a, b = add_pos < end, sub_pos < end
            d = np.zeros(n_q, dtype=np.float64)
            np.add.at(d, add_pos[a], w[a])
            np.add.at(d, sub_pos[b], -w[b])
            return kernels.group_prefix(d, q_first)[1:]

        def deletable_results(snap_mask, mut_mask):
            """SUM/COUNT/AVERAGE with full reversal support."""
            cnt = deltas(snap_mask, neg_inf, ones) + deltas(mut_mask, mut_start, sign * ones)
            cnt = np.round(cnt).astype(np.int64)
            if part.operation == Operation.COUNT:
                return [int(c) if c > 0 else None for c in cnt]
            vals = pit_join._as_numpy(col.fillna(0), in_t).astype(np.float64, copy=False)
            s = deltas(snap_mask, neg_inf, vals) + deltas(mut_mask, mut_start, sign * vals)
            if part.operation == Operation.SUM:
                out_int = isinstance(pit_join._widen(in_t), T.LongType)
                return [None if c <= 0 else (int(round(v)) if out_int else float(v))
                        for v, c in zip(s, cnt)]
            return [None if c <= 0 else float(v / c) for v, c in zip(s, cnt)]

        def histogram_results(snap_mask, mut_mask):
            """Per-value difference arrays: true deletion (Histogram.delete
            decrements, SimpleAggregators.scala:324-326); <=0 entries drop."""
            svals = col.astype(str).to_numpy()
            results = [None] * n_q
            active = snap_mask | mut_mask
            for v in pd.unique(svals[active]):
                vm = active & (svals == v)
                cnt = np.round(deltas(vm & snap_mask, neg_inf, ones)
                               + deltas(vm & mut_mask, mut_start, sign * ones)).astype(np.int64)
                for i in np.flatnonzero(cnt > 0):
                    if results[i] is None:
                        results[i] = {}
                    results[i][str(v)] = int(cnt[i])
            return results

        def kernel_results(snap_mask, mut_mask):
            """Insert-only replay: before-images ignored (the reference's
            delete throws for these ops); window + activation filtering,
            finished by the batch kernels."""
            rev = pdf["__rev"].to_numpy(dtype=bool)
            rows = snap_mask | (mut_mask & ~rev)
            ridx = np.flatnonzero(rows)
            if not len(ridx):
                return [None] * n_q
            enc_r = enc[ridx]
            start_r = start_all[ridx]
            lo, _ = _tail_bounds(enc_r, gid[q_pos], q_ts, base, part, False)
            hi = np.searchsorted(enc_r, q_enc, side="left")  # strict ts < T
            lo = np.minimum(lo, hi)
            from zipline_chronon_spark.operators import segments as _seg

            flat, seg_id, cnt0, _ = _seg.expand(lo, hi)
            keep = start_r[flat] < np.repeat(q_ts, cnt0)
            fidx, seg_f = flat[keep], seg_id[keep]
            cnt2 = np.bincount(seg_f, minlength=n_q).astype(np.int64)
            hi2 = np.cumsum(cnt2)
            lo2 = hi2 - cnt2
            # subset BEFORE dtype conversion: the full column holds NaN at
            # query/other-kind positions, which int64 conversion rejects
            vals_r = pit_join._as_numpy(col.iloc[ridx].reset_index(drop=True), in_t)
            return kernels.run_kernel(part, vals_r[fidx], enc_r[fidx], lo2, hi2)

        def run_tier(snap_mask, mut_mask):
            if part.operation in DELETABLE:
                return deletable_results(snap_mask, mut_mask)
            if part.operation == Operation.HISTOGRAM:
                return histogram_results(snap_mask, mut_mask)
            return kernel_results(snap_mask, mut_mask)

        if part.bucket is None:
            results = run_tier(snap_m, mut_m)
        else:
            bvals = pdf[part.bucket].to_numpy()
            bvalid = pd.notna(bvals)
            results = [None] * n_q
            for bv in pd.unique(bvals[bvalid & (snap_m | mut_m)]):
                bm = bvalid & (bvals == bv)
                sub = run_tier(snap_m & bm, mut_m & bm)
                for i, r in enumerate(sub):
                    if r is not None:
                        if results[i] is None:
                            results[i] = {}
                        results[i][str(bv)] = r
        data[part.output_name] = pd.Series(results, dtype=object)
    return pd.DataFrame(data)


def _make_runner(parts, ev_schema, keys, out_schema_spark):
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(out_schema_spark)
    reads = list(dict.fromkeys([
        pit_join.TS_COL, pit_join.ROW_ID, "__kind", "__rev", "__mut_ts",
        *[c for p in parts for c in (p.input_column, p.bucket) if c]]))

    def runner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tbl, start in whole_groups(batches, keys):
            out = _chunk(tbl.select(reads).to_pandas(), np.cumsum(start) - 1,
                         parts, ev_schema)
            if len(out):
                yield pa.RecordBatch.from_pandas(out, schema=out_schema,
                                                 preserve_index=False)

    return runner
