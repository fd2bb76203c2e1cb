"""Batch serving of APPROX_* parts from mergeable hop-tile sketches — the
offline twin of the online Fetcher.

The default batch engine (pit_join/arrow_engine) finalizes APPROX_* EXACTLY
over the raw events of each window — best accuracy, but per-(key, window)
cost is O(distinct values). This engine instead answers each sketch part
from per-(key, hop-tile) sketches (HLL / KLL / Misra-Gries,
operators/sketches.py) plus the raw events of the query's head hop — the
same sawtooth lambda rule as the online Fetcher (online/fetcher.py
merge_state/finalize_part semantics), so:

  compute_group_by_approx(spark, gb, q)  ==  Fetcher.fetch(key, T)

for every (key, T), by construction (tested in tests/test_approx_engine.py).

Scale shape: the exact engine's frame (pit_join.union_frame) — the
key-prefiltered events ∪ the queries, ONE hash shuffle on the GroupBy keys,
one sort on (keys, ts, tie) and ONE ``mapInArrow``. Within each chunk of
whole key groups:

  - scalar parts (SUM / COUNT / AVERAGE / MIN / MAX / FIRST / LAST) run
    arrow_engine.process_chunk_arrow, so they are the exact engine's
    answers;
  - sketch parts get their hop tiles built inside the task from the key's
    sorted events, by the upload's own builder (fetcher.group_sketches),
    one build per (sketch class, input column): windows and finalize
    arguments (k, percentiles) do not change a tile. A windowed part
    merges the tiles from its tail up to the query's head hop plus the raw
    events of the head hop; an unbounded part keeps a running merge of every tile
    below the head hop. Both window endpoints are monotone in query time,
    so a two-stack slider (``_SwagSketch``, the SlickDeque/SWAG idea)
    merges each tile O(1) amortized times per key, not once per query. No
    sketch is serialized on the way.

Contract: the shuffle moves O(prefiltered events + queries) rows, and a
task holds O(the key's events + queries) rows for the key it serves —
the exact engine's contract, with the same seam for hot keys (time-slice
salting, pit_join.compute_group_by_self). Serving from an uploaded tile
table instead would hold O(tiles + head events + queries) per key; in the
case this engine is built for, every event a query, both are O(events).

Cardinality contract: the output has exactly one row per query row (same
as the exact engine) — query rows drive the output, so a key with no
events in any window still yields a null-feature row.

Reference analogue: GroupByUpload + Flink tiles + the fetcher's
SawtoothOnlineAggregator — the reference has no batch-side sketch backfill
(its batch APPROX_* are CPC/KLL sketches per output row); here both tiers
share one tile builder and one finalize rule.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from zipline_chronon_spark.api import GroupBy, Operation
from zipline_chronon_spark.online import fetcher as fl
from zipline_chronon_spark.operators import pit_join
from zipline_chronon_spark.operators.arrow_engine import (_SHIFT, _columns, _np_int64,
                                                          _valid_np, process_chunk_arrow,
                                                          whole_groups)
from zipline_chronon_spark.operators.sketches import hash64, sketch_input

ROW_ID = pit_join.ROW_ID
TS_COL = pit_join.TS_COL
SIDE_COL = pit_join.SIDE_COL


class _SwagSketch:
    """Two-stack sliding-window aggregation over a key's tile sketches:
    window endpoints are monotone in query time, so each tile is merged
    O(1) amortized times total (once into the back aggregate, once during
    a front flip) — NOT once per query. ``items`` entries are never
    mutated; answers are fresh copies. An unbounded part keeps ``lo`` at 0,
    so it is a running merge."""

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


def _serve_sketches(cols: dict, gid: np.ndarray, parts, hop: int,
                    out_schema: pa.Schema) -> list[pa.Array]:
    """The sketch parts' columns for the queries (SIDE_COL 1) of one sorted
    chunk of whole key groups, ``gid`` the 0-based key index per row.

    The key's events (SIDE_COL 0) are cut into hop tiles, and window
    bounds come from one group-encoded ``searchsorted`` per endpoint over
    the tiles and over the event rows (the PIT engine's encoding,
    enc = (key_idx << 44) + (t - base), so ranges never cross a key
    boundary). The per-key loop runs the two-stack slider over the key's
    tile sketches and adds the head events' typed values
    (``sketches.sketch_input``)."""
    ts = _np_int64(cols[TS_COL])
    side = _np_int64(cols[SIDE_COL])
    ev_pos = np.flatnonzero(side == 0)
    q_pos = np.flatnonzero(side == 1)
    nq = len(q_pos)
    G = int(gid[-1]) + 1
    base = (int(ts.min()) // hop) * hop  # at or below every tile start
    g_ev, t_ev = gid[ev_pos], ts[ev_pos]
    # hop tiles = runs of the key-sorted events sharing (key, hop start)
    tile_of = (t_ev // hop) * hop
    new_tile = np.ones(len(ev_pos), dtype=bool)
    new_tile[1:] = (g_ev[1:] != g_ev[:-1]) | (tile_of[1:] != tile_of[:-1])
    t_start = np.flatnonzero(new_tile)
    tile_g = g_ev[t_start]
    enc_tile = (tile_g << _SHIFT) + (tile_of[t_start] - base)
    enc_ev = (g_ev << _SHIFT) + (t_ev - base)
    g_q, T = gid[q_pos], ts[q_pos]
    gq_enc = g_q << _SHIFT
    head = (T // hop) * hop
    hi_t_head = np.searchsorted(enc_tile, gq_enc + (head - base))
    e_hi = np.searchsorted(enc_ev, gq_enc + (T - base), side="right")
    e_lo_head = np.minimum(np.searchsorted(enc_ev, gq_enc + (head - base)), e_hi)
    lo_t_unb = np.searchsorted(enc_tile, gq_enc)
    # per-key offsets into the tile / query arrays
    t_ofs = np.searchsorted(tile_g, np.arange(G + 1))
    q_ofs = np.searchsorted(g_q, np.arange(G + 1))
    ev_take = pa.array(ev_pos, type=pa.int64())
    tiles: dict = {}  # (sketch class, input column) -> one sketch per tile

    arrays = []
    for p in parts:
        if p.window is None:
            lo_t, hi_t, e_lo = lo_t_unb, hi_t_head, e_lo_head
        else:
            tail = p.window.tail_start(T)
            lo_t = np.searchsorted(enc_tile, gq_enc + np.maximum(tail - base, 0))
            hi_t = np.maximum(hi_t_head, lo_t)
            e_lo = np.minimum(np.searchsorted(
                enc_ev, gq_enc + np.maximum(np.maximum(tail, head) - base, 0)), e_hi)
        op = p.operation
        ecol = cols[p.input_column].take(ev_take)
        content = (fl._sketch_cls(op), p.input_column)
        if content not in tiles:
            tiles[content] = fl.group_sketches(op, ecol, t_start)
        tile_sks = tiles[content]
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
            m = q1 - q0
            hi_k = hi_t[q0:q1] - t0
            # an unbounded part keeps lo at the key's first tile: a
            # running merge
            lo_k = np.zeros(m, dtype=np.int64) if unbounded else lo_t[q0:q1] - t0
            slider = _SwagSketch(tile_sks[t0:int(t_ofs[g + 1])])
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
                                work = fl._sketch_cls(op)()
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
                                    work = fl._sketch_cls(op)()
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
                            work = fl._sketch_cls(op)()
                        if op == Operation.APPROX_UNIQUE_COUNT:
                            work.update_hashes(vals[bprev:bi])
                        else:
                            work.update(vals[bprev:bi])
                        bprev = bi
                    if work is not None:
                        out[q0 + i] = fl.finalize_sketch(op, work, k, nfp, pcts)
        arrays.append(pa.array(out.tolist(), type=out_schema.field(p.output_name).type))
    return arrays


def compute_group_by_approx(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    row_id: str = ROW_ID,
    query_time_col: str = "ts",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Enrich each query row (keys…, ts) with gb's features: scalar parts
    (SUM/COUNT/AVERAGE/MIN/MAX/FIRST/LAST) exactly, APPROX_* parts from hop
    tile sketches + exact raw head events, windowed and unbounded. Returns
    (row_id, feature columns…) with the SAME output schema AND row
    cardinality as the exact engine.

    One shuffle: the exact engine's frame (``pit_join.union_frame``), then
    one ``mapInArrow`` whose tasks build the tiles they serve. Shuffle
    volume is O(prefiltered events + queries); per-key task memory is
    O(the key's events + queries)."""
    from zipline_chronon_spark.operators.derive import apply_derivations

    parts = fl._parts(gb)
    keys = list(gb.key_columns)
    arranged, _, out_schema = pit_join.union_frame(
        spark, gb, queries, row_id, query_time_col=query_time_col,
        num_partitions=num_partitions)
    arrow_schema = to_arrow_schema(out_schema)
    scalar = [p for p in parts if p.operation not in fl.SKETCH_OPS]
    sketch = [p for p in parts if p.operation in fl.SKETCH_OPS]
    scalar_schema = pa.schema([arrow_schema.field(ROW_ID),
                               *[arrow_schema.field(p.output_name) for p in scalar]])
    hop = fl._tile_hop(gb) or 86_400_000  # unbounded-only: any fixed tiling

    def runner(batches):
        for tbl, start in whole_groups(batches, keys):
            # the sawtooth (TEMPORAL) rule, as the Fetcher serves it
            out = process_chunk_arrow(tbl, start, scalar, [], scalar_schema, None,
                                      False, TS_COL, SIDE_COL, ROW_ID)
            if not out.num_rows:
                continue
            served = dict(zip(scalar_schema.names, out.columns))
            if sketch:
                served.update(zip(
                    [p.output_name for p in sketch],
                    _serve_sketches(_columns(tbl), np.cumsum(start) - 1, sketch,
                                    hop, arrow_schema)))
            yield pa.RecordBatch.from_arrays([served[n] for n in arrow_schema.names],
                                             schema=arrow_schema)

    out = arranged.mapInArrow(runner, schema=out_schema)
    return apply_derivations(out, gb.derivations, always_keep=[ROW_ID])
