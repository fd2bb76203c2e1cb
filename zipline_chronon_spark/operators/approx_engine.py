"""Batch backfill over MERGEABLE tile IRs — the bounded-memory path for
APPROX_* (and the scalar ops) at KV-state scale.

The default batch engine (pit_join/arrow_engine) finalizes APPROX_* EXACTLY
over the raw events of each window — best accuracy, but per-(key, window)
cost is O(distinct values). This engine instead serves each query point
from per-(key, hop-tile) sketch IRs (HLL / KLL / Misra-Gries,
operators/sketches.py) plus the raw events of the query's head hop — the
same sawtooth lambda rule as the online Fetcher (online/fetcher.py
merge_state/finalize_part semantics), so:

  compute_group_by_approx(spark, gb, q)  ==  Fetcher.fetch(key, T)

for every (key, T), by construction (tested in tests/test_approx_engine.py).

Scale shape: there is NO query x tile join. Tiles,
head events and query rows are shuffled ONCE, keyed by the GroupBy keys,
and served cogrouped: within each key, queries are answered in time order
against the key's tile/event columns, read straight from Arrow:

  - scalar parts (SUM / COUNT / AVERAGE / MIN / MAX / FIRST / LAST) run the
    PIT engine's op dispatch (arrow_engine._finish) over the tile IR
    column and over the head-event column, then merge the two results
    with the key's collapsed row — one op body for both engines,
  - sketch parts run a two-stack sliding-window merge (SWAG): both window
    endpoints are monotone in query time, so each tile sketch is
    deserialized ONCE and merged O(1) amortized times per key, instead of
    once per (query, tile) pair. Head events enter as typed values
    (sketches.sketch_input), as they do in the tile builder.

Shuffle volume is therefore O(tiles + head_events + queries) — a
query x tile join moves O(queries x tiles_per_window) rows (a 7d/1h window =
168x fan-out, each row carrying sketch blobs) and re-deserializes every
blob per query. Head events are pruned to the hops some query actually
touches (a (key, hop) semi-join), so the event shuffle is bounded by the
query head hops, not the full history. For very SPARSE query sets over
very WIDE time spans the join shape can move fewer event rows; the
dense-backfill case (every event becomes a query) is what this engine is
for, and there the cogroup shape wins by the full fan-out factor.

Skew: a single hot key's tiles+events+queries land in one task. The exact
engine's hot-key time-slice salting seam (pit_join) applies here
unchanged if needed — tiles/queries can be sliced by time range with
boundary tiles duplicated per slice; not wired up by default.

Cardinality contract: the output has exactly one row per query row (same
as the exact engine) — query rows drive the output, so a key with no
tiles and no head events still yields a null-feature row.

Reference analogue: GroupByUpload + Flink tiles + the fetcher's
SawtoothOnlineAggregator — the reference has no batch-side sketch backfill
(its batch APPROX_* are CPC/KLL sketches per output row); here both tiers
share one IR format and one finalize rule.
"""

from __future__ import annotations

import dataclasses
import functools
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from zipline_chronon_spark.api import GroupBy, Operation
from zipline_chronon_spark.online import fetcher as fl
from zipline_chronon_spark.operators import pit_join
from zipline_chronon_spark.operators.arrow_engine import (_SHIFT, _columns, _finish,
                                                          _np_int64, _valid_np,
                                                          whole_groups)
from zipline_chronon_spark.operators.sketches import hash64, sketch_input

ROW_ID = pit_join.ROW_ID
TS_COL = pit_join.TS_COL

# union row kinds, in within-key sort order
K_TILE, K_EVENT, K_COLLAPSED, K_QUERY = 0, 1, 2, 3


def _split_point(gb: GroupBy, t_min: int) -> int:
    """Oldest millisecond any query at T >= t_min can need at TILE
    granularity — upload_batch_state's tile_floor evaluated at the earliest
    query time. Below it, windowed parts see nothing (their tails are
    higher) and unbounded parts need only a merged total: ONE collapsed IR
    row per key."""
    wfloor = fl._tile_floor(gb, t_min)
    if wfloor is not None:
        return wfloor
    hop = fl._tile_hop(gb) or 86_400_000
    return (t_min // hop) * hop  # unbounded-only: collapse below min head


def _ir_plan(gb: GroupBy):
    """Deduplicate tile-IR columns by CONTENT: every windowed variant of an
    aggregation reads the same per-(key, tile) state — SUM_1d / SUM / AVG
    share one (sum, count) pair, both APPROX_UNIQUE_COUNT windows share one
    HLL blob, and sketch args (k, percentiles) only matter at finalize.
    Building the tile frame from one representative part per content class
    halves its width for typical multi-window GroupBys: fewer aggregate
    expressions, fewer sketch builds, and fewer bytes through the shuffle
    and the Arrow boundary. Returns (gb_ir, ir_map) where gb_ir generates
    exactly one part per class and ir_map maps each original part's
    output_name to its representative's."""
    from zipline_chronon_spark.api import Aggregation, AggregationPart

    parts = fl._parts(gb)
    has_sumcnt = {p.input_column for p in parts
                  if p.operation in (Operation.SUM, Operation.AVERAGE)}
    classes: dict = {}
    ir_map: dict[str, str] = {}
    reduced: list = []
    for p in parts:
        op = p.operation
        if op in (Operation.SUM, Operation.AVERAGE) or (
                op == Operation.COUNT and p.input_column in has_sumcnt):
            ck = ("sumcnt", p.input_column)
            rep_op, rep_args = Operation.AVERAGE, ()
        elif op == Operation.COUNT:
            ck = ("cnt", p.input_column)
            rep_op, rep_args = Operation.COUNT, ()
        elif op in fl.SKETCH_OPS:
            ck = (fl._sketch_cls(op).__name__, p.input_column)
            rep_op, rep_args = op, ()
        else:  # MIN / MAX / FIRST / LAST
            ck = (op.name, p.input_column)
            rep_op, rep_args = op, ()
        if ck not in classes:
            rep = AggregationPart(p.input_column, rep_op, rep_args, None, None)
            classes[ck] = rep.output_name
            reduced.append(Aggregation(p.input_column, rep_op, rep_args,
                                       windows=(None,)))
        ir_map[p.output_name] = classes[ck]
    gb_ir = dataclasses.replace(gb, aggregations=tuple(reduced))
    return gb_ir, ir_map


def _build_frames(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    row_id: str = ROW_ID,
    query_time_col: str = "ts",
) -> tuple[DataFrame, DataFrame, list[str], dict]:
    """The serving input frame, keyed by the GroupBy keys (NO per-query
    fan-out): each (key, tile) IR appears ONCE (kind=0), each queried head
    event once (kind=1), at most one collapsed row per key (kind=2), and
    one row per query (kind=3). Split out so tests can assert the shuffle
    shape directly. Returns (union, events_frame, ir_cols, ir_map)."""
    parts = fl._parts(gb)
    gb_ir, ir_map = _ir_plan(gb)
    keys = list(gb.key_columns)
    hop = fl._tile_hop(gb) or 86_400_000  # unbounded-only: any fixed tiling

    ev = pit_join.events_df(spark, gb)
    inputs = sorted({p.input_column for p in parts})
    has_unbounded = any(p.window is None for p in parts)

    q_dt = queries.select(F.expr(query_time_col).alias("t")).schema[0].dataType
    q = queries.select(
        *keys,
        pit_join._time_to_millis(F.expr(query_time_col), q_dt).alias("__T"),
        F.col(row_id).cast("long").alias(ROW_ID),
    )
    # one tiny driver-side scalar: the query-time span bounds BOTH ends of
    # the event scan (events above max_T can never contribute; events below
    # the split collapse — or drop entirely when no part is unbounded)
    b = q.agg(F.min("__T").alias("lo"), F.max("__T").alias("hi")).collect()[0]
    t_min, t_max = (b["lo"], b["hi"]) if b["lo"] is not None else (0, 0)
    split = _split_point(gb, t_min)

    ev = ev.where(F.col(TS_COL) <= t_max)
    recent = ev.where(F.col(TS_COL) >= split)

    qkeys = q.select(*keys).distinct()

    # per-(key, tile) mergeable IRs over [split, t_max] — ONE pass, then
    # pruned to queried keys (mirrors the exact engine's semi-join prefilter)
    tiles = fl._ir_rows(recent, gb_ir, tile_hop=hop).join(qkeys, keys, "leftsemi")
    ir_cols = [c for c in tiles.columns if c not in keys + ["__tile"]]

    zero_l = F.lit(0).cast("long")
    neg1_l = F.lit(-1).cast("long")  # ROW_ID stays null-free int64 (2^53 rule)
    # each kind carries only its own columns; the unions fill the rest
    # with typed nulls
    t_u = tiles.select(
        *keys, F.lit(K_TILE).alias("__kind"), F.col("__tile").alias("__t"),
        neg1_l.alias(ROW_ID), *ir_cols)

    # head events: only (key, hop) cells some query actually touches —
    # [head_floor(T), T] per query is exact-head territory; everything
    # below head_floor is covered by tiles
    q_hop = (F.col("__T") / hop).cast("long") * hop
    qhops = q.select(*keys, q_hop.alias("__hop")).distinct()
    head_lo = (t_min // hop) * hop
    he = (ev.where(F.col(TS_COL) >= head_lo)
            .withColumn("__hop", (F.col(TS_COL) / hop).cast("long") * hop)
            .join(qhops, keys + ["__hop"], "leftsemi"))
    e_u = he.select(
        *keys, F.lit(K_EVENT).alias("__kind"), F.col(TS_COL).alias("__t"),
        neg1_l.alias(ROW_ID), *[F.col(c).alias(f"__e_{c}") for c in inputs])

    q_u = q.select(
        *keys, F.lit(K_QUERY).alias("__kind"), F.col("__T").alias("__t"), ROW_ID)

    union = (t_u.unionByName(e_u, allowMissingColumns=True)
             .unionByName(q_u, allowMissingColumns=True))

    # collapsed rows only exist (and are only read) for unbounded parts;
    # every key contributes at most ONE such row TOTAL — not per query
    if has_unbounded:
        old = ev.where(F.col(TS_COL) < split)
        collapsed = fl._ir_rows(old, gb_ir).join(qkeys, keys, "leftsemi")
        c_u = collapsed.select(
            *keys, F.lit(K_COLLAPSED).alias("__kind"), zero_l.alias("__t"),
            neg1_l.alias(ROW_ID), *ir_cols)
        union = union.unionByName(c_u, allowMissingColumns=True)

    return union, ev, ir_cols, ir_map


class _SwagSketch:
    """Two-stack sliding-window aggregation over a key's tile sketches:
    window endpoints are monotone in query time, so each tile is merged
    O(1) amortized times total (once into the back aggregate, once during
    a front flip) — NOT once per query. ``items`` entries are never
    mutated; answers are fresh copies. An unbounded part keeps ``lo`` at 0
    with its collapsed seed at item 0, so it is a running merge."""

    __slots__ = ("items", "front", "back", "back_agg", "lo", "hi")

    def __init__(self, items: list):
        self.items = items
        self.front: list = []   # suffix aggregates; pop() evicts the oldest
        self.back: list = []    # indices newer than everything in front
        self.back_agg = None
        self.lo = 0
        self.hi = 0

    def advance(self, lo: int, hi: int) -> None:
        items = self.items
        while self.hi < hi:
            it = items[self.hi]
            if it is not None:
                if self.back_agg is None:
                    self.back_agg = it.copy()
                else:
                    self.back_agg.merge(it)
            self.back.append(self.hi)
            self.hi += 1
        while self.lo < lo:
            if not self.front:
                agg = None  # suffix agg over items newer than position i
                for i in reversed(self.back):
                    if items[i] is not None:
                        if agg is None:
                            agg = items[i].copy()
                        else:
                            agg = agg.copy().merge(items[i])
                    self.front.append(agg)  # aliasing OK: entries read-only
                self.back = []
                self.back_agg = None
            if self.front:
                self.front.pop()
            self.lo += 1

    def window_agg(self):
        """Fresh sketch covering [lo, hi), or None if nothing valid."""
        f = self.front[-1] if self.front else None
        if f is None and self.back_agg is None:
            return None
        out = f.copy() if f is not None else self.back_agg.copy()
        if f is not None and self.back_agg is not None:
            out.merge(self.back_agg)
        return out


def _sorted_quantiles(sv: np.ndarray, qs: list[float]) -> list[float]:
    """np.quantile(vals, qs) with method='linear' over an ALREADY-SORTED
    array, computed directly (replicates numpy's _lerp: t >= 0.5 evaluates
    b - diff*(1-t) for the same rounding) — KllSketch.quantiles calls
    np.quantile in the exact regime, whose ~70us of ufunc machinery per
    call dominated the per-query serve cost; this is the bit-identical
    O(len(qs)) version for a buffer kept sorted incrementally."""
    m = len(sv)
    if m == 0:
        return [float("nan") for _ in qs]
    out = []
    for q in qs:
        vi = q * (m - 1)
        j = int(vi)
        t = vi - j
        va = sv[j]
        vb = sv[j + 1] if j + 1 < m else sv[m - 1]
        diff = vb - va
        r = va + t * diff
        if t >= 0.5:
            r = vb - diff * (1 - t)
        out.append(float(r))
    return out


def _total(arrays: list, pa_type: pa.DataType) -> pa.Array:
    """Element-wise sum of the non-None arrays, a null counting as 0; null
    where every one is null."""
    arrays = [a.cast(pa_type) for a in arrays if a is not None]
    valid = functools.reduce(pc.or_, [a.is_valid() for a in arrays])
    tot = functools.reduce(pc.add, [a.fill_null(0) for a in arrays])
    return pc.if_else(valid, tot, pa.scalar(None, pa_type))


def _make_group_server(parts, out_schema, ir_map=None):
    """serve(tbl, gid) for one sorted table of whole key groups, ``gid``
    the 0-based key index per row (null keys are keys of their own, so
    their queries get null features).

    Every query of every key in the batch is answered at once. Window
    bounds come from one group-encoded ``searchsorted`` per endpoint over
    the tile rows and over the head-event rows (the PIT engine's encoding,
    enc = (key_idx << 44) + (t - base), so ranges never cross a key
    boundary). A scalar part (SUM / COUNT / AVERAGE / MIN / MAX / FIRST /
    LAST) runs the PIT engine's op dispatch, ``arrow_engine._finish``,
    once over its tile IR column and once over its head-event column; a
    short merge per op then adds the key's collapsed row. Only sketch
    parts keep a per-key loop (two-stack sliders are stateful per key),
    over the batch's blobs and its typed event values
    (``sketches.sketch_input``)."""

    # each part reads its CONTENT-representative's IR columns (see _ir_plan)
    ir_map = ir_map or {}
    hop = None
    for p in parts:
        if p.window is not None:
            h = p.window.tail_hop_millis()
            hop = h if hop is None else min(hop, h)
    hop = hop or 86_400_000

    def serve(tbl: pa.Table, gid: np.ndarray) -> Optional[pa.RecordBatch]:
        n = tbl.num_rows
        cols = _columns(tbl)
        kind = _np_int64(cols["__kind"])
        t_all = _np_int64(cols["__t"])
        G = int(gid[-1]) + 1
        starts = np.searchsorted(gid, np.arange(G))
        ends = np.r_[starts[1:], n]
        # per-key kind boundaries via one searchsorted over (gid, kind)
        ek = gid * 4 + kind
        kb = np.arange(G, dtype=np.int64) * 4
        b1 = np.searchsorted(ek, kb + K_EVENT)    # tile end / event start
        b2 = np.searchsorted(ek, kb + K_COLLAPSED)
        b3 = np.searchsorted(ek, kb + K_QUERY)

        tile_pos = np.flatnonzero(kind == K_TILE)
        ev_pos = np.flatnonzero(kind == K_EVENT)
        q_pos = np.flatnonzero(kind == K_QUERY)
        nq = len(q_pos)
        if nq == 0:
            return None
        g_q = gid[q_pos]
        T = t_all[q_pos]
        ncoll = kind != K_COLLAPSED  # collapsed rows carry __t = 0
        base = int(t_all[ncoll].min()) if ncoll.any() else 0
        enc_tile = (gid[tile_pos] << _SHIFT) + (t_all[tile_pos] - base)
        enc_ev = (gid[ev_pos] << _SHIFT) + (t_all[ev_pos] - base)
        gq_enc = g_q << _SHIFT
        q_enc = gq_enc + (T - base)

        head = (T // hop) * hop
        hi_t_head = np.searchsorted(enc_tile, gq_enc + np.maximum(head - base, 0))
        e_hi = np.searchsorted(enc_ev, q_enc, side="right")
        e_lo_head = np.minimum(np.searchsorted(
            enc_ev, gq_enc + np.maximum(head - base, 0)), e_hi)
        lo_t_unb = np.searchsorted(enc_tile, gq_enc)
        # collapsed row index per key (-1 when absent), gathered per query
        ci_k = np.where(b2 < b3, b2, -1)
        ci_q = ci_k[g_q]
        ci_take = pa.array(np.maximum(ci_q, 0), type=pa.int64(), mask=ci_q < 0)

        def finish(part, name, pos, enc, lo, hi, pa_type):
            """``_finish`` over the valid rows of column ``name`` among the
            rows ``pos``, for windows ``[lo, hi)`` into ``pos``."""
            col = cols[name]
            ok = _valid_np(col)[pos]
            if not ok.any():  # _finish's sparse table needs a value
                return pa.nulls(nq, pa_type)
            c = np.zeros(len(pos) + 1, dtype=np.int64)
            np.cumsum(ok, out=c[1:])
            return _finish(part, col, pos[ok], enc[ok], c[lo], c[hi], pa_type)

        def serve_scalar(p, rep, lo_t, hi_t, e_lo, e_hi):
            op = p.operation
            out_t = out_schema.field(p.output_name).type

            def three(suffix, tile_part, ev_part, pa_type):
                """(tiles, head events, collapsed) results of one IR column;
                the collapsed state feeds ONLY unbounded parts (merge_state
                rule: windowed tails are above the split)."""
                name = f"{rep}__{suffix}"
                return [finish(tile_part, name, tile_pos, enc_tile, lo_t, hi_t, pa_type),
                        finish(ev_part, f"__e_{p.input_column}", ev_pos, enc_ev,
                               e_lo, e_hi, pa_type),
                        cols[name].take(ci_take).cast(pa_type)
                        if p.window is None else None]

            if op in (Operation.MIN, Operation.MAX):
                fn = pc.min_element_wise if op == Operation.MIN else pc.max_element_wise
                return fn(*[a for a in three(op.name.lower(), p, p, out_t)
                            if a is not None])
            if op in (Operation.FIRST, Operation.LAST):
                # collapsed is older than tiles, tiles than head events
                t, e, c = three("v", p, p, out_t)
                order = (c, t, e) if op == Operation.FIRST else (e, t, c)
                return pc.coalesce(*[a for a in order if a is not None])
            as_sum = dataclasses.replace(p, operation=Operation.SUM)
            if op != Operation.COUNT:
                s_t = out_t if op == Operation.SUM else pa.float64()
                s = _total(three("sum", as_sum, as_sum, s_t), s_t)
                if op == Operation.SUM:
                    return s
            cnt = _total(three("count", as_sum, dataclasses.replace(
                p, operation=Operation.COUNT), pa.int64()), pa.int64())
            cnt = pc.if_else(pc.greater(cnt, 0), cnt, pa.scalar(None, pa.int64()))
            if op == Operation.COUNT:
                return cnt
            return pc.divide(s, cnt.cast(pa.float64()))

        # per-key offsets into the flattened tile / query arrays
        t_ofs = np.zeros(G + 1, dtype=np.int64)
        np.cumsum(b1 - starts, out=t_ofs[1:])
        q_ofs = np.zeros(G + 1, dtype=np.int64)
        np.cumsum(ends - b3, out=q_ofs[1:])
        ev_take = pa.array(ev_pos, type=pa.int64())

        def serve_sketch(p, rep, lo_t, hi_t, e_lo, e_hi):
            op = p.operation
            blobs = cols[f"{rep}__sk"].to_pylist()
            cls = fl._sketch_cls(op)
            ecol = cols[f"__e_{p.input_column}"].take(ev_take)
            vals = sketch_input(ecol)
            # event-row bounds -> positions into the valid values
            cv = np.zeros(len(ecol) + 1, dtype=np.int64)
            np.cumsum(_valid_np(ecol), out=cv[1:])
            a_all, b_all = cv[e_lo], cv[e_hi]
            k = p.k or 1
            nfp = op == Operation.APPROX_HEAVY_HITTERS_K
            pcts = p.percentiles if op == Operation.APPROX_PERCENTILE else None
            if op == Operation.APPROX_UNIQUE_COUNT and len(vals):
                vals = hash64(vals)
            elif op == Operation.APPROX_PERCENTILE:
                vals = vals.astype(np.float64)

            out = np.full(nq, None, dtype=object)
            unbounded = p.window is None
            for g in range(G):
                q0, q1 = int(q_ofs[g]), int(q_ofs[g + 1])
                if q0 == q1:
                    continue
                t0 = int(t_ofs[g])
                items = [None if bb is None else cls.from_bytes(bb)
                         for bb in blobs[starts[g]:b1[g]]]
                m = q1 - q0
                hi_k = hi_t[q0:q1] - t0
                if unbounded:  # the collapsed seed is item 0; lo stays 0
                    cb = blobs[ci_k[g]] if ci_k[g] >= 0 else None
                    items.insert(0, None if cb is None else cls.from_bytes(cb))
                    lo_k, hi_k = np.zeros(m, dtype=np.int64), hi_k + 1
                else:
                    lo_k = lo_t[q0:q1] - t0
                slider = _SwagSketch(items)
                a = a_all[q0:q1]
                b = b_all[q0:q1]
                # batched segment sweep: queries
                # sharing (tile window, head-slice start) — constant within
                # one hop — are served from ONE window_agg copy; head
                # events append incrementally (b is monotone) and finalize
                # is read-only, so per-query cost drops from
                # copy+merge+update to update-delta+finalize. Content is
                # identical: within a segment a[i] is constant, so the
                # cumulative updates [a, b_i) equal per-query fresh-copy
                # updates.
                seg = np.zeros(m, dtype=bool)
                seg[0] = True
                if m > 1:
                    seg[1:] = ((lo_k[1:] != lo_k[:-1])
                               | (hi_k[1:] != hi_k[:-1]) | (a[1:] != a[:-1]))
                sst = np.flatnonzero(seg)
                sen = np.r_[sst[1:], m]
                for s0, s1 in zip(sst, sen):
                    slider.advance(int(lo_k[s0]), int(hi_k[s0]))
                    work = slider.window_agg()  # one fresh copy per segment
                    bprev = int(a[s0])
                    # exact-regime fast lanes — provably identical outputs
                    # (the sketch structures below their thresholds ARE the
                    # exact values): a python set for sparse distinct
                    # counts, an incrementally-sorted buffer + direct
                    # quantile for an uncompressed KLL. Each lane falls
                    # back to the sketch path the moment its threshold is
                    # crossed, reconstructing the sketch from the exact
                    # state (registers/compaction depend only on the value
                    # multiset and n, so the handoff is lossless).
                    if op == Operation.APPROX_UNIQUE_COUNT and (
                            work is None or work.sparse is not None):
                        sset = (set() if work is None
                                else set(work.sparse.tolist()))
                        limit = (work.sparse_limit if work is not None
                                 else 4096)
                        created = work is not None
                        work = None
                        for i in range(s0, s1):
                            bi = int(b[i])
                            if work is None and bi > bprev:
                                created = True
                                sset.update(vals[bprev:bi].tolist())
                                bprev = bi
                                if len(sset) > limit:
                                    work = fl._new_sketch(op)
                                    work.update_hashes(np.fromiter(
                                        sset, dtype=np.uint64, count=len(sset)))
                            if work is not None:
                                bi = int(b[i])
                                if bi > bprev:
                                    work.update_hashes(vals[bprev:bi])
                                    bprev = bi
                                out[q0 + i] = fl.finalize_sketch(op, work, k, nfp, pcts)
                            elif created:
                                out[q0 + i] = len(sset)
                        continue
                    if op == Operation.APPROX_PERCENTILE and (
                            work is None or not any(
                                len(lv) for lv in work.levels[1:])):
                        buf = (np.empty(0, dtype=np.float64) if work is None
                               else np.sort(work.levels[0], kind="stable"))
                        cap = work.cap if work is not None else 4096
                        created = work is not None
                        work = None
                        for i in range(s0, s1):
                            bi = int(b[i])
                            if work is None and bi > bprev:
                                created = True
                                nv = vals[bprev:bi]
                                nv = nv[~np.isnan(nv)]
                                bprev = bi
                                if len(nv):
                                    if len(nv) > 1:
                                        nv = np.sort(nv)
                                    buf = np.insert(
                                        buf, np.searchsorted(buf, nv), nv)
                                    if len(buf) > cap:
                                        work = fl._new_sketch(op)
                                        work.levels[0] = buf.copy()
                                        work.n = len(buf)
                                        work._compress()
                            if work is not None:
                                bi = int(b[i])
                                if bi > bprev:
                                    work.update(vals[bprev:bi])
                                    bprev = bi
                                out[q0 + i] = fl.finalize_sketch(op, work, k, nfp, pcts)
                            elif created:
                                out[q0 + i] = _sorted_quantiles(buf, pcts)
                        continue
                    for i in range(s0, s1):
                        bi = int(b[i])
                        if bi > bprev:
                            if work is None:
                                work = fl._new_sketch(op)
                            if op == Operation.APPROX_UNIQUE_COUNT:
                                work.update_hashes(vals[bprev:bi])
                            else:
                                work.update(vals[bprev:bi])
                            bprev = bi
                        if work is not None:
                            out[q0 + i] = fl.finalize_sketch(op, work, k, nfp, pcts)
            return pa.array(out.tolist(), type=out_schema.field(p.output_name).type)

        arrays = [cols[ROW_ID].take(pa.array(q_pos, type=pa.int64()))]
        for p in parts:
            if p.window is None:
                lo_t, hi_t, e_lo = lo_t_unb, hi_t_head, e_lo_head
            else:
                tail = p.window.tail_start(T)
                lo_t = np.searchsorted(enc_tile, gq_enc + np.maximum(tail - base, 0))
                hi_t = np.maximum(hi_t_head, lo_t)
                e_lo = np.minimum(np.searchsorted(
                    enc_ev, gq_enc + np.maximum(np.maximum(tail, head) - base, 0)),
                    e_hi)
            rep = ir_map.get(p.output_name, p.output_name)
            serve_part = serve_sketch if p.operation in fl.SKETCH_OPS else serve_scalar
            arrays.append(serve_part(p, rep, lo_t, hi_t, e_lo, e_hi))
        arrays = [a if a.type == f.type else a.cast(f.type)
                  for a, f in zip(arrays, out_schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return serve


def compute_group_by_approx(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    row_id: str = ROW_ID,
    query_time_col: str = "ts",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Enrich each query row (keys…, ts) with gb's features served from
    mergeable tile IRs + exact raw head events. Supports the scalar ops
    (SUM/COUNT/AVERAGE/MIN/MAX/FIRST/LAST) and all APPROX_* ops, windowed
    and unbounded. Returns (row_id, feature columns…) with the SAME output
    schema AND row cardinality as the exact engine."""
    parts = fl._parts(gb)
    keys = list(gb.key_columns)
    union, ev, ir_cols, ir_map = _build_frames(spark, gb, queries, row_id,
                                       query_time_col)

    _, out_schema = pit_join._output_schema(gb, dict(
        (f.name, f.dataType) for f in ev.schema.fields), [])
    serve = _make_group_server(parts, to_arrow_schema(out_schema), ir_map)

    # ONE shuffle keyed by the GroupBy keys; each key's rows arrive sorted
    # (tiles | events | collapsed | queries, each time-ordered) and are
    # served whole, re-chunked on key boundaries
    nparts = (num_partitions
              or union.sparkSession.sparkContext.defaultParallelism)
    arranged = union.repartition(nparts, *keys).sortWithinPartitions(
        *keys, "__kind", "__t")

    def runner(batches):
        for tbl, start in whole_groups(batches, keys):
            out = serve(tbl, np.cumsum(start) - 1)
            if out is not None:
                yield out

    return arranged.mapInArrow(runner, schema=out_schema)
