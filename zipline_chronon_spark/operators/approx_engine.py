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
against the key's tile/event arrays with

  - prefix-sum difference arrays for SUM / COUNT / AVERAGE,
  - batch-wide sparse-table range queries (RMQ) for MIN / MAX,
  - next/prev-non-null index hops for FIRST / LAST,
  - a two-stack sliding-window merge (SWAG) for sketch parts: both window
    endpoints are monotone in query time, so each tile sketch is
    deserialized ONCE and merged O(1) amortized times per key, instead of
    once per (query, tile) pair.

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

from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from zipline_chronon_spark.api import GroupBy, Operation
from zipline_chronon_spark.online import fetcher as fl
from zipline_chronon_spark.operators import kernels, pit_join
from zipline_chronon_spark.operators.arrow_engine import _SHIFT, whole_groups
from zipline_chronon_spark.operators.sketches import hash64

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
    import dataclasses

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

    def _nulls(df_schema, cols, prefix=""):
        return [F.lit(None).cast(df_schema[c].dataType).alias(f"{prefix}{c}")
                for c in cols]

    zero_l = F.lit(0).cast("long")
    neg1_l = F.lit(-1).cast("long")  # ROW_ID stays null-free int64 (2^53 rule)

    t_u = tiles.select(
        *keys, F.lit(K_TILE).alias("__kind"), F.col("__tile").alias("__t"),
        neg1_l.alias(ROW_ID), *ir_cols, *_nulls(ev.schema, inputs, "__e_"))

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
        neg1_l.alias(ROW_ID), *_nulls(tiles.schema, ir_cols),
        *[F.col(c).alias(f"__e_{c}") for c in inputs])

    q_u = q.select(
        *keys, F.lit(K_QUERY).alias("__kind"), F.col("__T").alias("__t"),
        ROW_ID, *_nulls(tiles.schema, ir_cols),
        *_nulls(ev.schema, inputs, "__e_"))

    union = t_u.unionByName(e_u).unionByName(q_u)

    # collapsed rows only exist (and are only read) for unbounded parts;
    # every key contributes at most ONE such row TOTAL — not per query
    if has_unbounded:
        old = ev.where(F.col(TS_COL) < split)
        collapsed = fl._ir_rows(old, gb_ir).join(qkeys, keys, "leftsemi")
        c_u = collapsed.select(
            *keys, F.lit(K_COLLAPSED).alias("__kind"), zero_l.alias("__t"),
            neg1_l.alias(ROW_ID), *ir_cols, *_nulls(ev.schema, inputs, "__e_"))
        union = union.unionByName(c_u)

    return union, ev, ir_cols, ir_map


# ---------------------------------------------------------------------------
# per-key range kernels
# ---------------------------------------------------------------------------

def _prefix(x: np.ndarray, first: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(per-key prefix sums with nan->0, read with kernels.window_sums;
    prefix non-nan counts), length n+1. ``first`` marks key starts."""
    ok = ~np.isnan(x)
    c = np.zeros(len(x) + 1, dtype=np.int64)
    np.cumsum(ok, out=c[1:])
    return kernels.group_prefix(np.where(ok, x, 0.0), first), c


def _next_valid(valid: np.ndarray) -> np.ndarray:
    """nxt[i] = smallest j >= i with valid[j], else n."""
    n = len(valid)
    idx = np.where(valid, np.arange(n), n)
    return np.minimum.accumulate(idx[::-1])[::-1]


def _prev_valid(valid: np.ndarray) -> np.ndarray:
    """prv[i] = largest j <= i with valid[j], else -1."""
    idx = np.where(valid, np.arange(len(valid)), -1)
    return np.maximum.accumulate(idx)


class _SwagSketch:
    """Two-stack sliding-window aggregation over a key's tile sketches:
    window endpoints are monotone in query time, so each tile is merged
    O(1) amortized times total (once into the back aggregate, once during
    a front flip) — NOT once per query. ``items`` entries are never
    mutated; answers are fresh copies."""

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


class _PrefixSketch:
    """Running (unbounded-window) merge: lo is pinned at 0, hi monotone."""

    __slots__ = ("items", "run", "hi")

    def __init__(self, items: list, seed=None):
        self.items = items
        self.run = seed.copy() if seed is not None else None
        self.hi = 0

    def advance(self, hi: int) -> None:
        while self.hi < hi:
            it = self.items[self.hi]
            if it is not None:
                if self.run is None:
                    self.run = it.copy()
                else:
                    self.run.merge(it)
            self.hi += 1

    def window_agg(self):
        return None if self.run is None else self.run.copy()


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


class _Columns(dict):
    """Column name -> pandas Series of an Arrow table, converted on first
    read, so a chunk converts only the columns its parts use."""

    def __init__(self, tbl: pa.Table):
        super().__init__()
        self.tbl = tbl

    def __missing__(self, name: str) -> pd.Series:
        s = self[name] = self.tbl.column(name).to_pandas()
        return s


def _make_group_server(parts, out_schema, ir_map=None):
    """serve(tbl, gid) for one sorted table of whole key groups, ``gid``
    the 0-based key index per row (null keys are keys of their own, so
    their queries get null features).

    Additive / extreme / first-last parts are answered for EVERY query of
    EVERY key in the batch AT ONCE — tiles, head events and queries are
    flattened into per-kind arrays, window bounds come from one
    group-encoded ``searchsorted`` per endpoint (the exact engine's
    pit_join idiom: enc = (key_idx << 44) + (t - base), so ranges can never
    cross a key boundary), and prefix sums / sparse-table RMQs /
    prev-next-valid gathers run over the whole batch: ~10 numpy calls per
    (batch, part), where a Python loop over keys pays ~10 per (key, part)
    on groups of ~tens of rows. Only sketch parts keep a per-key loop
    (two-stack sliders are stateful per key); that loop indexes
    precomputed numpy arrays — no per-key pandas slicing anywhere."""

    # each part reads its CONTENT-representative's IR columns (see _ir_plan)
    ir_map = ir_map or {}
    keyed = [(p, p.output_name, ir_map.get(p.output_name, p.output_name),
              p.operation, p.input_column) for p in parts]
    hop = None
    for p in parts:
        if p.window is not None:
            h = p.window.tail_hop_millis()
            hop = h if hop is None else min(hop, h)
    hop = hop or 86_400_000

    def serve(tbl: pa.Table, gid: np.ndarray) -> Optional[pa.RecordBatch]:
        n = tbl.num_rows
        pdf = _Columns(tbl)
        kind = pdf["__kind"].to_numpy()
        t_all = pdf["__t"].to_numpy(dtype=np.int64)
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
        t_first = kernels.group_first(gid[tile_pos])
        e_first = kernels.group_first(gid[ev_pos])
        gq_enc = g_q << _SHIFT
        q_enc = gq_enc + (T - base)

        head = (T // hop) * hop
        hi_t_head = np.searchsorted(enc_tile, gq_enc + np.maximum(head - base, 0))
        e_hi = np.searchsorted(enc_ev, q_enc, side="right")
        e_lo_head = np.minimum(np.searchsorted(
            enc_ev, gq_enc + np.maximum(head - base, 0)), e_hi)
        lo_t_unb = None  # lazy: searchsorted once if any unbounded part
        # collapsed row index per key (-1 when absent), gathered per query
        ci_k = np.where(b2 < b3, b2, -1)
        ci_q = ci_k[g_q]

        # batch-level column caches (one C-level conversion each)
        num_cache: dict = {}
        obj_cache: dict = {}
        ev_pref_cache: dict = {}
        ev_cnt_cache: dict = {}

        def num(col):
            if col not in num_cache:
                num_cache[col] = pd.to_numeric(pdf[col], errors="coerce")\
                    .to_numpy(dtype=np.float64, copy=False)
            return num_cache[col]

        def obj(col):
            if col not in obj_cache:
                obj_cache[col] = pdf[col].to_numpy(dtype=object)
            return obj_cache[col]

        def ev_prefix(col):
            """(value prefix, non-nan count prefix) over the event rows."""
            if col not in ev_pref_cache:
                ev_pref_cache[col] = _prefix(num(f"__e_{col}")[ev_pos], e_first)
            return ev_pref_cache[col]

        def ev_count_prefix(col):
            """Non-null count prefix on the RAW objects (COUNT works on any
            dtype)."""
            if col not in ev_cnt_cache:
                eok = ~pd.isna(obj(f"__e_{col}")[ev_pos])
                c = np.zeros(len(eok) + 1, dtype=np.int64)
                np.cumsum(eok, out=c[1:])
                ev_cnt_cache[col] = c
            return ev_cnt_cache[col]

        def collapsed_add(ci, full_col):
            """(mask, values) of valid collapsed contributions per query."""
            cm = ci >= 0
            cv = full_col[np.maximum(ci, 0)]
            cm = cm & ~np.isnan(cv)
            return cm, cv

        def _serve_additive(nm, op, col, ci, lo_t, hi_t, e_lo, e_hi):
            csum = chave = ccnt = None
            if op in (Operation.SUM, Operation.AVERAGE):
                ts_, tc_ = _prefix(num(f"{nm}__sum")[tile_pos], t_first)
                es_, ec_ = ev_prefix(col)
                tot = (kernels.window_sums(ts_, t_first, lo_t, hi_t)
                       + kernels.window_sums(es_, e_first, e_lo, e_hi))
                have = (tc_[hi_t] - tc_[lo_t]) + (ec_[e_hi] - ec_[e_lo])
                if ci is not None:
                    cm, cv = collapsed_add(ci, num(f"{nm}__sum"))
                    tot[cm] += cv[cm]
                    have = have + cm
                csum, chave = tot, have
            if op in (Operation.COUNT, Operation.AVERAGE):
                tcv = num(f"{nm}__count")[tile_pos]
                tp = np.zeros(len(tcv) + 1)
                np.cumsum(np.where(np.isnan(tcv), 0.0, tcv), out=tp[1:])
                ec2 = (ev_count_prefix(col) if op == Operation.COUNT
                       else ev_prefix(col)[1])
                cnt = (tp[hi_t] - tp[lo_t]) + (ec2[e_hi] - ec2[e_lo])
                if ci is not None:
                    cm, cv = collapsed_add(ci, num(f"{nm}__count"))
                    cnt[cm] += cv[cm]
                ccnt = cnt
            out = np.full(nq, None, dtype=object)
            if op == Operation.SUM:
                m = chave > 0
                out[m] = csum[m]
            elif op == Operation.COUNT:
                m = ccnt > 0
                out[m] = ccnt[m].astype(np.int64)
            else:  # AVERAGE
                m = ccnt > 0
                out[m] = csum[m] / ccnt[m]
            return out

        def _serve_extreme(nm, op, col, ci, lo_t, hi_t, e_lo, e_hi):
            is_min = op == Operation.MIN
            suffix = "min" if is_min else "max"
            npop = np.minimum if is_min else np.maximum
            t_ser = pdf[f"{nm}__{suffix}"]
            e_ser = pdf[f"__e_{col}"]
            if (pd.api.types.is_float_dtype(t_ser)
                    and pd.api.types.is_float_dtype(e_ser)):
                # native float: range-RMQ directly on the values
                tfull, efull = num(f"{nm}__{suffix}"), num(f"__e_{col}")
                decode = None
            else:
                # exact any-dtype path (ints stay exact past 2**53, strings
                # compare lexicographically): factorize both columns into
                # ONE sorted code space, RMQ over float codes, decode at
                # the end — no per-row Python comparisons
                comb = pd.concat([t_ser, e_ser], ignore_index=True)
                codes, uniq = pd.factorize(comb, sort=True)
                fcodes = codes.astype(np.float64)
                fcodes[codes < 0] = np.nan
                tfull, efull = fcodes[:n], fcodes[n:]
                decode = np.asarray(uniq, dtype=object)
            tvals = tfull[tile_pos]
            evals = efull[ev_pos]
            fill = np.inf if is_min else -np.inf

            def rng(vals, lo, hi):
                res = np.full(nq, fill)
                has = np.zeros(nq, dtype=bool)
                if len(vals):
                    ok = ~np.isnan(vals)
                    st = kernels._SparseTable(np.where(ok, vals, fill), npop)
                    r = st.query(lo, hi)
                    m = hi > lo
                    res[m] = r[m]
                    c = np.zeros(len(ok) + 1, dtype=np.int64)
                    np.cumsum(ok, out=c[1:])
                    has = (c[hi] - c[lo]) > 0
                return res, has

            rt, ht = rng(tvals, lo_t, hi_t)
            re_, he = rng(evals, e_lo, e_hi)
            res = npop(rt, re_)
            ok = ht | he
            if ci is not None:
                cm, cv = collapsed_add(ci, tfull)
                res[cm] = npop(res[cm], cv[cm])
                ok = ok | cm
            out = np.full(nq, None, dtype=object)
            if decode is None:
                out[ok] = res[ok]
            else:
                out[ok] = decode[res[ok].astype(np.int64)]
            return out

        def _serve_first_last(nm, op, col, ci, lo_t, hi_t, e_lo, e_hi):
            t_ts = num(f"{nm}__ts")[tile_pos]
            t_v = obj(f"{nm}__v")[tile_pos]
            evv = obj(f"__e_{col}")[ev_pos]
            t_valid = ~np.isnan(t_ts)
            e_valid = ~pd.isna(evv)
            nt, ne = len(t_ts), len(evv)
            out = np.full(nq, None, dtype=object)
            cv_mask = None
            if ci is not None:
                cv_mask, _ = collapsed_add(ci, num(f"{nm}__ts"))
                cv_vals = obj(f"{nm}__v")[np.maximum(ci, 0)]
            if op == Operation.FIRST:
                # tiles are strictly older than head events, collapsed older
                # still — so events first, tiles override, collapsed wins
                nxt_e = np.r_[_next_valid(e_valid), ne]
                ei = nxt_e[e_lo]
                em = ei < e_hi
                out[em] = evv[ei[em]]
                nxt_t = np.r_[_next_valid(t_valid), nt]
                ti = nxt_t[lo_t]
                tm = ti < hi_t
                out[tm] = t_v[ti[tm]]
                if cv_mask is not None:
                    out[cv_mask] = cv_vals[cv_mask]
            else:  # LAST: head events newest, then tiles, then collapsed
                if cv_mask is not None:
                    out[cv_mask] = cv_vals[cv_mask]
                if nt:
                    prv_t = _prev_valid(t_valid)
                    jt = prv_t[np.maximum(hi_t, 1) - 1]
                    tm = (hi_t > lo_t) & (jt >= lo_t)
                    out[tm] = t_v[jt[tm]]
                if ne:
                    prv_e = _prev_valid(e_valid)
                    je = prv_e[np.maximum(e_hi, 1) - 1]
                    em = (e_hi > e_lo) & (je >= e_lo)
                    out[em] = evv[je[em]]
            return out

        def _serve_sketch(p, nm, op, col, lo_t, hi_t, e_lo, e_hi):
            sk_all = obj(f"{nm}__sk")
            blobs_t = sk_all[tile_pos]
            cls = fl._sketch_cls(op)
            evv = obj(f"__e_{col}")[ev_pos]
            e_valid = ~pd.isna(evv)
            k = p.k or 1
            nfp = op == Operation.APPROX_HEAVY_HITTERS_K
            pcts = None
            hv_all = fv_all = None
            vp = np.flatnonzero(e_valid)
            if op == Operation.APPROX_UNIQUE_COUNT:
                hv_all = np.zeros(len(evv), dtype=np.uint64)
                if len(vp):
                    hv_all[vp] = hash64(evv[vp])
            elif op == Operation.APPROX_PERCENTILE:
                pcts = p.percentiles
                fv_all = np.full(len(evv), np.nan)
                if len(vp):
                    fv_all[vp] = pd.to_numeric(
                        pd.Series(evv[vp]), errors="coerce").to_numpy(
                        dtype=np.float64)
            # per-key offsets into the flattened tile/event/query arrays
            t_ofs = np.zeros(G + 1, dtype=np.int64)
            np.cumsum(b1 - starts, out=t_ofs[1:])
            e_ofs = np.zeros(G + 1, dtype=np.int64)
            np.cumsum(b2 - b1, out=e_ofs[1:])
            q_ofs = np.zeros(G + 1, dtype=np.int64)
            np.cumsum(ends - b3, out=q_ofs[1:])

            out = np.full(nq, None, dtype=object)
            unbounded = p.window is None
            for g in range(G):
                q0, q1 = int(q_ofs[g]), int(q_ofs[g + 1])
                if q0 == q1:
                    continue
                t0 = int(t_ofs[g])
                e0, e1 = int(e_ofs[g]), int(e_ofs[g + 1])
                items = [None if pd.isna(bb) else cls.from_bytes(bytes(bb))
                         for bb in blobs_t[t0:int(t_ofs[g + 1])]]
                seed = None
                if unbounded and ci_k[g] >= 0:
                    cb = sk_all[ci_k[g]]
                    if not pd.isna(cb):
                        seed = cls.from_bytes(bytes(cb))
                slider = (_PrefixSketch(items, seed) if unbounded
                          else _SwagSketch(items))
                lo_k = lo_t[q0:q1] - t0
                hi_k = hi_t[q0:q1] - t0
                ev_k = e_valid[e0:e1]
                vpos = np.flatnonzero(ev_k)
                a = np.searchsorted(vpos, e_lo[q0:q1] - e0)
                b = np.searchsorted(vpos, e_hi[q0:q1] - e0)
                # batched segment sweep: queries
                # sharing (tile window, head-slice start) — constant within
                # one hop — are served from ONE window_agg copy; head
                # events append incrementally (b is monotone) and finalize
                # is read-only, so per-query cost drops from
                # copy+merge+update to update-delta+finalize. Content is
                # identical: within a segment a[i] is constant, so the
                # cumulative updates [a, b_i) equal per-query fresh-copy
                # updates.
                m = q1 - q0
                lo_eff = np.zeros(m, dtype=np.int64) if unbounded else lo_k
                seg = np.zeros(m, dtype=bool)
                seg[0] = True
                if m > 1:
                    seg[1:] = ((lo_eff[1:] != lo_eff[:-1])
                               | (hi_k[1:] != hi_k[:-1]) | (a[1:] != a[:-1]))
                sst = np.flatnonzero(seg)
                sen = np.r_[sst[1:], m]
                for s0, s1 in zip(sst, sen):
                    if unbounded:
                        slider.advance(int(hi_k[s0]))
                    else:
                        slider.advance(int(lo_eff[s0]), int(hi_k[s0]))
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
                                sset.update(hv_all[vpos[bprev:bi] + e0].tolist())
                                bprev = bi
                                if len(sset) > limit:
                                    work = fl._new_sketch(op)
                                    work.update_hashes(np.fromiter(
                                        sset, dtype=np.uint64, count=len(sset)))
                            if work is not None:
                                bi = int(b[i])
                                if bi > bprev:
                                    work.update_hashes(hv_all[vpos[bprev:bi] + e0])
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
                                nv = fv_all[vpos[bprev:bi] + e0]
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
                                    work.update(fv_all[vpos[bprev:bi] + e0])
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
                            sel = vpos[bprev:bi] + e0
                            if op == Operation.APPROX_UNIQUE_COUNT:
                                work.update_hashes(hv_all[sel])
                            elif op == Operation.APPROX_PERCENTILE:
                                work.update(fv_all[sel])
                            else:
                                work.update(list(evv[sel]))
                            bprev = bi
                        if work is not None:
                            out[q0 + i] = fl.finalize_sketch(op, work, k, nfp, pcts)
            return out

        data = {ROW_ID: pdf[ROW_ID].to_numpy(dtype=np.int64)[q_pos]}
        for p, nm, rep, op, col in keyed:
            if p.window is None:
                nonlocal_lo = lo_t_unb
                if nonlocal_lo is None:
                    nonlocal_lo = np.searchsorted(enc_tile, gq_enc)
                    lo_t_unb = nonlocal_lo
                lo_t, hi_t, e_lo = nonlocal_lo, hi_t_head, e_lo_head
            else:
                w, th = p.window.millis, p.window.tail_hop_millis()
                tail = ((T - w) // th) * th
                lo_t = np.searchsorted(enc_tile, gq_enc + np.maximum(tail - base, 0))
                hi_t = np.maximum(hi_t_head, lo_t)
                e_lo = np.minimum(np.searchsorted(
                    enc_ev, gq_enc + np.maximum(np.maximum(tail, head) - base, 0)),
                    e_hi)
            # collapsed (below-split) state feeds ONLY unbounded parts
            # (merge_state rule: windowed tails are above the split)
            ci = ci_q if p.window is None else None
            if op in fl.SKETCH_OPS:
                data[nm] = _serve_sketch(p, rep, op, col, lo_t, hi_t, e_lo, e_hi)
            elif op in (Operation.SUM, Operation.AVERAGE, Operation.COUNT):
                data[nm] = _serve_additive(rep, op, col, ci, lo_t, hi_t, e_lo, e_hi)
            elif op in (Operation.MIN, Operation.MAX):
                data[nm] = _serve_extreme(rep, op, col, ci, lo_t, hi_t, e_lo, e_hi)
            else:  # FIRST / LAST
                data[nm] = _serve_first_last(rep, op, col, ci, lo_t, hi_t, e_lo, e_hi)
        return pa.RecordBatch.from_pandas(pd.DataFrame(data), schema=out_schema,
                                          preserve_index=False)

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
