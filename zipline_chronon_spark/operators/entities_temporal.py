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
   (activation mask over the window range), one group per query, finished
   by the PIT engine's op dispatch (``arrow_engine._finish``).
Buckets are supported on all tiers (per-bucket-value replay). Chunks stay in
Arrow end to end, as in ``arrow_engine.process_chunk_arrow``; list and map
inputs are rejected when the query is planned. Snapshot and mutation rows
with a null row time are dropped, as ``pit_join.events_df`` drops events.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zipline_chronon_spark.api import AggregationPart, EntitySource, GroupBy, Operation
from zipline_chronon_spark.operators import kernels, pit_join, segments
from zipline_chronon_spark.operators.arrow_engine import (
    _SHIFT, _columns, _finish, _map_of, _masked_pa, _np_int64, _numeric_np, _tail_bounds,
    _unpack, whole_groups)

MS_DAY = 86_400_000
# group ids g with (g << _SHIFT) + (ts - base) inside int64
_MAX_GROUPS = 1 << (63 - _SHIFT)

KIND_SNAPSHOT = 0
KIND_MUTATION = 1
KIND_QUERY = 2

DELETABLE = {Operation.SUM, Operation.COUNT, Operation.AVERAGE}
# insert-only ops, finished by arrow_engine._finish over filtered ranges
INSERT_ONLY = {
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
        if p.operation not in INSERT_ONLY and p.operation not in DELETABLE \
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

    ``allow_insert_only``: INSERT_ONLY ops (MIN/MAX/FIRST/LAST/K-ops/
    distinct/percentiles) replay mutations insert-only — before-images are
    ignored. On a feed that actually CONTAINS reversals those features
    would silently include deleted/overwritten values (the reference
    throws in BaseAggregator.delete for these ops). So when an INSERT_ONLY
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
    ).where(F.col(pit_join.TS_COL).isNotNull())

    parts = gb.parts()
    ev_schema = {f.name: f.dataType for f in snap_r.schema.fields}
    fields = [T.StructField(pit_join.ROW_ID, T.LongType(), False)]
    for p in parts:
        in_t = ev_schema[p.input_column]
        if isinstance(in_t, (T.ArrayType, T.MapType)):
            raise NotImplementedError(
                f"temporal entities: no mutation-path support for "
                f"{in_t.simpleString()} input {p.input_column}")
        fields.append(pit_join.output_field(p, in_t))
    out_schema = T.StructType(fields)

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
    ).where(F.col(pit_join.TS_COL).isNotNull())

    insert_ops = sorted({p.operation.name for p in parts if p.operation in INSERT_ONLY})
    if insert_ops and not allow_insert_only:
        # one bounded probe (limit 1): insert-only replay is only exact on
        # append-only feeds; fail loudly instead of silently including
        # reversed rows in non-deletable aggregates
        has_rev = bool(mut.where(F.col(REVERSAL).cast("boolean")).limit(1).count())
        if has_rev:
            raise ValueError(
                f"mutation feed contains before-images but {insert_ops} only "
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
    # rows are ts-sorted within each (key, day) group; equal-ts rows in
    # arrival order (snapshot first, then by mutation_ts), which fixes the
    # insert-only tier's FIRST/LAST/K-op ties independently of the plan
    arranged = shuffled.sortWithinPartitions(*group_keys, pit_join.TS_COL, "__mut_ts")

    runner = _make_runner(parts, group_keys, out_schema)
    return arranged.mapInArrow(runner, schema=out_schema)


def _theta(ts: np.ndarray, part: AggregationPart) -> np.ndarray:
    """First query time whose hop-aligned tail passes a row at ``ts``."""
    if part.window is None:
        return np.full(len(ts), np.iinfo(np.int64).max, dtype=np.int64)
    hop = part.window.tail_hop_millis()
    return (ts // hop + 1) * hop + part.window.millis


def _group_cumsum(d: np.ndarray, first: np.ndarray) -> np.ndarray:
    """Inclusive prefix sums that restart at every group (``first`` marks
    the group starts). Integer sums stay exact int64, wrapping like the
    JVM's long; float sums use the segmented scan, so a group's sums do not
    depend on which groups share its chunk."""
    if d.dtype.kind == "f":
        return kernels.group_prefix(d, first)[1:]
    pre = np.cumsum(d)
    s = np.flatnonzero(first)
    return pre - np.repeat(pre[s] - d[s], np.diff(np.append(s, len(d))))


def _chunk(tbl: pa.Table, start: np.ndarray, parts, out_schema: pa.Schema
           ) -> Optional[pa.RecordBatch]:
    """One output row per query row of a chunk of whole (key, day) groups;
    None when the chunk holds no query."""
    cols = _columns(tbl)
    gid = np.cumsum(start, dtype=np.int64) - 1
    ts = _np_int64(cols[pit_join.TS_COL])
    kind = _np_int64(cols["__kind"])
    is_q = kind == KIND_QUERY
    q_pos = np.flatnonzero(is_q)
    n_q = len(q_pos)
    if not n_q:
        return None
    base = int(ts.min())
    enc = (gid << _SHIFT) + (ts - base)
    gid_q, q_ts, q_enc = gid[q_pos], ts[q_pos], enc[q_pos]
    q_first = kernels.group_first(gid_q)
    rev = cols["__rev"].fill_null(False).to_numpy(zero_copy_only=False)
    sign = np.where(rev, -1, 1)
    # snapshot rows are active from the start of the day; mutations after
    # max(mutation_ts, row.ts) (strict head)
    act = np.where(kind == KIND_SNAPSHOT, base - 1,
                   np.maximum(_np_int64(cols["__mut_ts"]), ts))

    def replay(part, rows, w):
        """Per-query sum of ``w`` over the ``rows`` active at the query: +w
        at the first query of the row's group with T > activation, -w at
        the first with T >= theta, then a prefix sum per group."""
        g = gid[rows] << _SHIFT
        act_rel = np.clip(act[rows] - base, -1, (1 << _SHIFT) - 1)
        th_rel = np.clip(_theta(ts[rows], part) - base, 0, (1 << _SHIFT) - 1)
        add_pos = np.searchsorted(q_enc, g + act_rel, side="right")
        # empty interval when the window exit precedes activation (e.g. a
        # before-image of a row already outside the window)
        sub_pos = np.maximum(np.searchsorted(q_enc, g + th_rel, side="left"), add_pos)
        # a delta past the group's last query reaches none of its queries
        end = np.searchsorted(q_enc, g + (1 << _SHIFT), side="left")
        a, b = add_pos < end, sub_pos < end
        d = np.zeros(n_q, dtype=w.dtype)
        np.add.at(d, add_pos[a], w[a])
        np.add.at(d, sub_pos[b], -w[b])
        return _group_cumsum(d, q_first)

    def deletable(part, values, rows, pa_type):
        """SUM/COUNT/AVERAGE with full reversal support."""
        cnt = replay(part, rows, sign[rows])
        empty = cnt <= 0
        if part.operation == Operation.COUNT:
            return _masked_pa(cnt, empty, pa_type)
        exact = pa.types.is_integer(pa_type)
        x = _numeric_np(values)[rows].astype(np.int64 if exact else np.float64, copy=False)
        s = replay(part, rows, sign[rows] * x)
        if part.operation == Operation.AVERAGE:
            s = s / np.maximum(cnt, 1)
        return _masked_pa(s, empty, pa_type)

    def histogram(part, values, rows, pa_type):
        """Per-value signed counts (Histogram.delete decrements,
        SimpleAggregators.scala:324-326); entries at <= 0 drop."""
        codes, sorted_dict = segments.rank_codes(values, rows)
        by_value = np.split(rows[np.argsort(codes, kind="stable")],
                            np.cumsum(np.bincount(codes))[:-1])
        counts = [replay(part, r, sign[r]) for r in by_value]
        return _map_of([str(v) for v in sorted_dict.to_pylist()],
                       [_masked_pa(c, c <= 0, pa.int64()) for c in counts], n_q, pa_type)

    def insert_only(part, values, rows, pa_type):
        """Before-images ignored (the reference's delete throws for these
        ops): each query's window, less the rows not yet active at T,
        becomes a group of its own, which ``_finish`` reads off ``enc_f``."""
        rows = rows[~rev[rows]]
        enc_r = enc[rows]
        lo, _ = _tail_bounds(enc_r, gid_q, q_ts, base, part, False)
        hi = np.searchsorted(enc_r, q_enc, side="left")  # strict row.ts < T
        flat, seg, cnt, _ = segments.expand(np.minimum(lo, hi), hi)
        keep = act[rows[flat]] < np.repeat(q_ts, cnt)
        flat, seg = flat[keep], seg[keep]
        out = []
        # a slice's query ids must fit above the _SHIFT bits of enc_f
        for q0 in range(0, n_q, _MAX_GROUPS):
            n = min(_MAX_GROUPS, n_q - q0)
            a, b = np.searchsorted(seg, [q0, q0 + n])
            fpos, s = rows[flat[a:b]], seg[a:b] - q0
            if not len(fpos):
                out.append(pa.nulls(n, pa_type))
                continue
            hi2 = np.cumsum(np.bincount(s, minlength=n))
            lo2 = np.append(0, hi2[:-1])
            enc_f = (s << _SHIFT) + (ts[fpos] - base)
            r = _finish(part, values, fpos, enc_f, lo2, hi2, pa_type)
            out.append(r if r.type == pa_type else r.cast(pa_type))
        return pa.concat_arrays(out)

    arrays = [cols[pit_join.ROW_ID].take(pa.array(q_pos, type=pa.int64()))]
    for part in parts:
        out_type = out_schema.field(part.output_name).type
        subkeys, units = _unpack(part, cols, ~is_q, enc)
        pa_type = out_type if subkeys is None else out_type.item_type
        tier = (deletable if part.operation in DELETABLE else
                histogram if part.operation == Operation.HISTOGRAM else insert_only)
        # inputs are scalar (list and map inputs are rejected at planning),
        # so each unit's fpos are row positions
        results = [tier(part, values, fpos, pa_type) for values, fpos, _ in units]
        arrays.append(results[0] if subkeys is None else
                      _map_of(subkeys, results, n_q, out_type))
    return pa.RecordBatch.from_arrays(
        [a if a.type == f.type else a.cast(f.type) for a, f in zip(arrays, out_schema)],
        schema=out_schema)


def _make_runner(parts, keys, out_schema_spark):
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = to_arrow_schema(out_schema_spark)

    def runner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tbl, start in whole_groups(batches, keys):
            out = _chunk(tbl, start, parts, out_schema)
            if out is not None:
                yield out

    return runner
