"""GroupByUpload + Fetcher: the online serving tier.

Reference shape (GroupByUpload.scala:112-300 batch IR upload;
SawtoothOnlineAggregator.scala:32-167 batchEndTs split into collapsed IR +
tail hops; Fetcher merge; FetcherTestUtil.scala:245-740 asserts offline
join == online fetch). Each step of the batch state has one
implementation, shared with the entity tier (online/entity_serving.py):

 - split (``_upload_frame``, returned by group_by_upload_df): the
   GroupByUpload table. Per key, ONE collapsed row over events too old for
   any window tail (ts < tile_floor, ``__tile`` null), plus per-(key, hop)
   TILE rows covering [tile_floor, T0] at the finest tail-hop granularity
   (hops nest: a 1h tail boundary is always a 5m tile boundary). Columns:
   keys…, ``__tile``, and the typed IR columns ``{part}__sum`` /
   ``__count`` / ``__min`` / ``__max`` / ``__v`` + ``__ts`` (FIRST/LAST
   arg-extremes) / ``__sk`` (sketch bytes: HLL / KLL / Misra-Gries).
 - write (``bulk_load``): the only writer of batch state. Streams the
   table's rows into the KV seam from the executors (KvStore.write_rows;
   the in-memory test store overrides with a documented driver-side
   collecting adapter — same bytes either way) as ``{name}__batch`` [kb] and
   ``{name}__tiles`` [kb|hop_start], JSON IRs, and stamps the
   ``batch_end_ms`` / ``tile_floor`` meta rows. upload_batch_state is
   bulk_load of group_by_upload_df.
 - upload_stream_events(T0, T1]: raw head events (the online head must be
   exact; tiles would quantize it).
 - read (``read_state``): one key's collapsed IR, tiles and head rows —
   one get and two prefix scans. Fetcher.fetch(key, T) merges them per
   feature —
     unbounded: collapsed + all tiles + head events with ts <= T
     windowed:  tiles with hop_start >= round(T - w, tailHop(w))
                + head events with tail <= ts <= T
   then finalizes. The head rule is the BATCH rule (ts <= T inclusive) so
   online fetch equals the offline engine exactly (the reference keeps a
   deliberate strict-< online discrepancy; we match batch for parity).

All IRs are associative, so tile merge order never matters. Parity oracle
(tests/test_fetcher.py): fetch at T1 == compute_key_states at T1.
"""

from __future__ import annotations

import base64
import json
import math
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zipline_chronon_spark.api import GroupBy, Operation
from zipline_chronon_spark.online.kv import KvStore, key_bytes
from zipline_chronon_spark.operators.sketches import FreqSketch, HllSketch, KllSketch

SCALAR_OPS = {Operation.SUM, Operation.COUNT, Operation.AVERAGE, Operation.MIN,
              Operation.MAX, Operation.FIRST, Operation.LAST}
SKETCH_OPS = {Operation.APPROX_UNIQUE_COUNT, Operation.APPROX_PERCENTILE,
              Operation.APPROX_FREQUENT_K, Operation.APPROX_HEAVY_HITTERS_K}
_FREQ = {Operation.APPROX_FREQUENT_K, Operation.APPROX_HEAVY_HITTERS_K}


def _parts(gb: GroupBy) -> list:
    parts = gb.parts()
    bad = [p for p in parts if p.operation not in SCALAR_OPS | SKETCH_OPS]
    if bad:
        raise NotImplementedError(f"no mergeable IR for {[p.operation for p in bad]}")
    return parts


def _tile_hop(gb: GroupBy) -> Optional[int]:
    hops = [p.window.tail_hop_millis() for p in gb.parts() if p.window is not None]
    return min(hops) if hops else None


def _tile_floor(gb: GroupBy, batch_end_ms: int) -> Optional[int]:
    """Oldest tile needed to serve any windowed part at T >= batch_end."""
    floors = [p.window.tail_start(batch_end_ms)
              for p in gb.parts() if p.window is not None]
    return min(floors) if floors else None


def _events(spark: SparkSession, gb: GroupBy, lo: Optional[int], hi: int) -> DataFrame:
    from zipline_chronon_spark.operators import pit_join

    return pit_join.events_df(spark, gb, time_range_ms=(lo, hi))


def _ir_rows(df: DataFrame, gb: GroupBy, tile_hop: Optional[int] = None):
    """IR rows per key (x optional hop tile): scalar IRs as Spark
    aggregates, sketch IRs via grouped Arrow tasks."""
    from pyspark.sql import types as T

    from zipline_chronon_spark.operators import pit_join

    parts = _parts(gb)
    keys = list(gb.key_columns)
    tiled = tile_hop is not None
    aggs, sketch_parts = [], []
    seen = set()
    for p in parts:
        c, nm = F.col(p.input_column), p.output_name
        if nm in seen:
            continue
        seen.add(nm)
        if p.operation == Operation.SUM:
            aggs.append(F.sum(c).alias(f"{nm}__sum"))
            # live-row count rides along: the entity tier nulls a SUM whose
            # deletions emptied it (cnt <= 0), matching the batch
            # difference-array engine; the events tier ignores it
            aggs.append(F.count(c).alias(f"{nm}__count"))
        elif p.operation == Operation.COUNT:
            aggs.append(F.count(c).alias(f"{nm}__count"))
        elif p.operation == Operation.AVERAGE:
            aggs.append(F.sum(c).alias(f"{nm}__sum"))
            aggs.append(F.count(c).alias(f"{nm}__count"))
        elif p.operation == Operation.MIN:
            aggs.append(F.min(c).alias(f"{nm}__min"))
        elif p.operation == Operation.MAX:
            aggs.append(F.max(c).alias(f"{nm}__max"))
        elif p.operation == Operation.FIRST:
            # ts restricted to rows where the VALUE is non-null: min_by/max_by
            # skip null ordering keys, so __v and __ts come from the SAME row
            # and a null-valued extreme-ts row can't split the pair (batch
            # kernels pre-filter nulls; this keeps tile merge consistent)
            ts_nn = F.when(c.isNotNull(), F.col(pit_join.TS_COL))
            aggs.append(F.min_by(c, ts_nn).alias(f"{nm}__v"))
            aggs.append(F.min(ts_nn).alias(f"{nm}__ts"))
        elif p.operation == Operation.LAST:
            ts_nn = F.when(c.isNotNull(), F.col(pit_join.TS_COL))
            aggs.append(F.max_by(c, ts_nn).alias(f"{nm}__v"))
            aggs.append(F.max(ts_nn).alias(f"{nm}__ts"))
        else:
            sketch_parts.append(p)

    base = df
    gcols = list(keys)
    if tiled:
        base = df.withColumn(
            "__tile", (F.col(pit_join.TS_COL) / tile_hop).cast("long") * tile_hop)
        gcols = keys + ["__tile"]
    scalar_df = base.groupBy(*gcols).agg(*aggs) if aggs else None

    sketch_df = None
    if sketch_parts:
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from zipline_chronon_spark.operators.arrow_engine import _columns, whole_groups

        schema = df.select(*keys).schema
        if tiled:
            schema = schema.add("__tile", T.LongType())
        for p in sketch_parts:
            schema = schema.add(f"{p.output_name}__sk", T.BinaryType())
        arrow_schema = to_arrow_schema(schema)
        sp = list(sketch_parts)
        in_cols = sorted({p.input_column for p in sp})
        gcols_b = list(gcols)

        # ONE Python call per rechunked batch, not per (key, tile) group:
        # groupBy+applyInPandas costs ~0.3 ms of UDF round-trip per group —
        # at hop-tile granularity that is the dominant cost of the whole
        # upload (measured 120 s for 234k tiles vs ~2 s batched).
        def build_batch(tbl: pa.Table, start: np.ndarray) -> pa.RecordBatch:
            starts = np.flatnonzero(start)
            cols = _columns(tbl)
            take = pa.array(starts, type=pa.int64())
            arrays = [cols[g].take(take) for g in gcols_b]
            for p in sp:
                sks = group_sketches(p.operation, cols[p.input_column], starts)
                arrays.append(pa.array([sk.to_bytes() for sk in sks], type=pa.binary()))
            return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

        nparts = base.sparkSession.sparkContext.defaultParallelism
        arranged = base.select(*gcols_b, *in_cols).repartition(
            nparts, *gcols_b).sortWithinPartitions(*gcols_b)

        def runner(batches):
            for tbl, start in whole_groups(batches, gcols_b):
                yield build_batch(tbl, start)

        sketch_df = arranged.mapInArrow(runner, schema=schema)

    if scalar_df is not None and sketch_df is not None:
        return scalar_df.join(sketch_df, gcols, "full")
    return scalar_df if scalar_df is not None else sketch_df


def group_sketches(op: Operation, col, starts) -> list:
    """One fresh sketch per group of ``col``'s rows, group i starting at
    row ``starts[i]`` (ascending, the first 0) and running to the next
    start. Each is built from the group's non-null values, typed
    (``sketch_input``; pre-hashed for HLL). The tile builder of both the
    upload (``_ir_rows``) and the approx serve (approx_engine), so their
    tiles are the same sketches by construction."""
    import numpy as np

    from zipline_chronon_spark.operators.arrow_engine import _valid_np
    from zipline_chronon_spark.operators.sketches import hash64, sketch_input

    vals = sketch_input(col)
    c = np.zeros(len(col) + 1, dtype=np.int64)
    np.cumsum(_valid_np(col), out=c[1:])
    cut = c[np.r_[starts, len(col)]]
    hll = op == Operation.APPROX_UNIQUE_COUNT
    if hll and len(vals):
        vals = hash64(vals)
    out = []
    for a, b in zip(cut[:-1], cut[1:]):
        sk = _sketch_cls(op)()
        if b > a:
            if hll:
                sk.update_hashes(vals[a:b])
            else:
                sk.update(vals[a:b])
        out.append(sk)
    return out


def _sketch_cls(op: Operation):
    if op == Operation.APPROX_UNIQUE_COUNT:
        return HllSketch
    if op in _FREQ:
        return FreqSketch
    return KllSketch


def _encode(row: dict, parts) -> bytes:
    body = {}
    for p in parts:
        nm = p.output_name
        for suffix in ("sum", "count", "min", "max", "v", "ts"):
            col = f"{nm}__{suffix}"
            if col in row and row[col] is not None:
                body[col] = row[col]
        sk = f"{nm}__sk"
        if sk in row and row[sk] is not None:
            body[sk] = base64.b64encode(bytes(row[sk])).decode()
    return json.dumps(body, sort_keys=True, default=float).encode()


def _upload_frame(gb: GroupBy, ev: DataFrame, batch_end_ms: int) -> DataFrame:
    """The collapsed-IR + tail-hop-tile split of an event frame (keys +
    inputs + TS_COL) as typed IR columns: one row per key over the events
    below the tile floor, with a null ``__tile``, ∪ one row per (key, hop)
    over the rest. Without a windowed part every event is collapsed."""
    from zipline_chronon_spark.operators import pit_join

    floor = _tile_floor(gb, batch_end_ms)
    ts = F.col(pit_join.TS_COL)
    collapsed = _ir_rows(ev if floor is None else ev.where(ts < floor), gb)
    collapsed = collapsed.withColumn("__tile", F.lit(None).cast("long"))
    if floor is None:
        return collapsed
    return collapsed.unionByName(
        _ir_rows(ev.where(ts >= floor), gb, tile_hop=_tile_hop(gb)))


def group_by_upload_df(spark: SparkSession, gb: GroupBy,
                       batch_end_ms: int) -> DataFrame:
    """The GroupByUpload OUTPUT TABLE for gb's source events below
    ``batch_end_ms``: one row per (key[, tile]) with the IR in typed columns
    (keys…, ``__tile`` — null for the collapsed row — and the
    ``{part}__sum/__count/__min/__max/__v/__ts/__sk`` IR columns). The
    reference materializes this shape to a warehouse table that a separate
    bulk-load job ships into the KV store (GroupByUpload.scala:112-300):
    write it with the catalog and ``bulk_load`` it later, or let
    upload_batch_state load it straight away."""
    return _upload_frame(gb, _events(spark, gb, None, batch_end_ms), batch_end_ms)


def bulk_load(kv: KvStore, upload_df: DataFrame, gb: GroupBy,
              batch_end_ms: int) -> int:
    """Ship a GroupByUpload table (materialized or not) into the KV store
    from the executors — the only writer of batch state. Each row is
    encoded with ``_encode`` under ``{name}__batch`` [kb] (null ``__tile``)
    or ``{name}__tiles`` [kb|hop_start]; the ``batch_end_ms`` and
    ``tile_floor`` meta rows the fetchers read are stamped driver-side.
    Returns the number of IR rows written."""
    parts = _parts(gb)
    keys = list(gb.key_columns)
    batch_ds, tile_ds = f"{gb.name}__batch", f"{gb.name}__tiles"

    def enc(d: dict) -> tuple[str, bytes, bytes]:
        kb = key_bytes(tuple(d[k] for k in keys))
        if d["__tile"] is None:
            return (batch_ds, kb, _encode(d, parts))
        return (tile_ds, kb + b"|" + str(d["__tile"]).encode(), _encode(d, parts))

    n = kv.write_rows(upload_df, enc)
    floor = _tile_floor(gb, batch_end_ms)
    kv.put(f"{gb.name}__meta", b"batch_end_ms", str(batch_end_ms).encode())
    kv.put(f"{gb.name}__meta", b"tile_floor",
           str(floor if floor is not None else -1).encode())
    return n


def upload_batch_state(kv: KvStore, spark: SparkSession, gb: GroupBy,
                       batch_end_ms: int) -> int:
    """GroupByUpload straight into the KV store: collapsed IR per key
    (events too old for any window tail) + tail-hop tiles covering
    [tile_floor, batch_end], bulk-loaded from the executors."""
    return bulk_load(kv, group_by_upload_df(spark, gb, batch_end_ms), gb, batch_end_ms)


def upload_stream_events(kv: KvStore, spark: SparkSession, gb: GroupBy,
                         lo_ms: int, hi_ms: int) -> int:
    """Raw post-batch head events (lo, hi] — exact online head accuracy
    (the reference keeps raw stream rows in KV for TEMPORAL serving)."""
    from zipline_chronon_spark.operators import pit_join

    parts = _parts(gb)
    inputs = sorted({p.input_column for p in parts})
    keys = list(gb.key_columns)
    ev = _events(spark, gb, lo_ms + 1, hi_ms)
    # __seq disambiguates duplicate (key, ts) rows in the KV key. It must be
    # DETERMINISTIC across reruns (not monotonically_increasing_id, which
    # depends on partition layout): uploads are at-least-once, and a retried
    # upload of the same range must overwrite its previous keys, not write
    # the same events under fresh keys and silently double-count every
    # subsequent fetch. row_number over (key, ts, payload-hash) reproduces
    # the same key for the same row on any partitioning of the input.
    from pyspark.sql.window import Window as W

    rows = (ev.select(*keys, pit_join.TS_COL, *inputs)
            .withColumn("__seq", F.row_number().over(
                W.partitionBy(*keys, pit_join.TS_COL)
                 .orderBy(F.xxhash64(*inputs) if inputs else F.lit(0)))))
    events_ds = f"{gb.name}__events"
    ts_col = pit_join.TS_COL

    def enc_event(d: dict) -> tuple[str, bytes, bytes]:
        key = (key_bytes(tuple(d[k] for k in keys))
               + b"|" + str(d[ts_col]).encode() + b"|" + str(d["__seq"]).encode())
        return (events_ds, key,
                json.dumps({"ts": d[ts_col],
                            **{c: d[c] for c in inputs}}, default=float).encode())

    return kv.write_rows(rows, enc_event)


def feature_schema_hint(spark: SparkSession, gb: GroupBy,
                        prefix: Optional[str] = None) -> dict:
    """{feature column: Spark type} from the engine's own output schema —
    the authoritative types for fetched feature maps (metadata-only read)."""
    from zipline_chronon_spark.operators import pit_join

    ev = pit_join.events_df(spark, gb)
    _, out_schema = pit_join._output_schema(
        gb, {f.name: f.dataType for f in ev.schema.fields}, [])
    return {(f"{prefix}_{f.name}" if prefix else f.name): f.dataType
            for f in out_schema.fields if f.name != pit_join.ROW_ID}


class Fetcher:
    """Fetch-time sawtooth merge: collapsed + selected tiles + head events.

    ``gb.derivations`` are applied to the merged feature map before it is
    returned (fetch-time derivations, reference Fetcher derivation stage via
    CatalystUtil.scala:1-191) — THROUGH the same apply_derivations code the
    offline engine uses, so a derived GroupBy serves exactly the columns its
    offline backfill writes. Derivation evaluation needs a SparkSession (one
    tiny local job per call — pass ``derive=False`` and batch through
    ``derive_rows`` to amortize across many fetches)."""

    def __init__(self, kv: KvStore, gb: GroupBy, spark=None):
        self.kv = kv
        self.gb = gb
        self.spark = spark
        self.parts = _parts(gb)
        be = kv.get(f"{gb.name}__meta", b"batch_end_ms")
        self.batch_end_ms = int(be) if be is not None else None

    def _spark(self):
        return _derive_session(self.spark, f"GroupBy {self.gb.name}", "Fetcher")

    def derive_rows(self, rows: list[dict]) -> list[dict]:
        """Apply gb.derivations to many fetched feature maps in ONE job."""
        from zipline_chronon_spark.operators.derive import apply_derivations_rows

        return apply_derivations_rows(self._spark(), rows, self.gb.derivations,
                                      schema_hint=self._schema_hint())

    def _schema_hint(self) -> dict:
        """Feature column -> engine output type (so all-None fetches still
        type-check in derivations); one metadata-only source read, cached."""
        if not hasattr(self, "_hint"):
            self._hint = feature_schema_hint(self._spark(), self.gb)
        return self._hint

    def fetch(self, key_values: tuple, at_ts_ms: Optional[int] = None,
              derive: bool = True) -> dict:
        return self.fetch_batch([key_values], at_ts_ms, derive)[0]

    def fetch_batch(self, key_tuples: list[tuple],
                    at_ts_ms: Optional[int] = None,
                    derive: bool = True) -> list[dict]:
        """Many keys in one call (the request-batched serving shape — the
        reference Fetcher also groups GetRequests): one ``read_state`` per
        key, so per-key results are identical to ``fetch``; derivations run
        as ONE job for the whole batch."""
        T = at_ts_ms if at_ts_ms is not None else self.batch_end_ms
        outs = [merge_state(self.parts,
                            *read_state(self.kv, self.gb.name, "events", key_bytes(k)), T)
                for k in key_tuples]
        if derive and self.gb.derivations:
            outs = self.derive_rows(outs)
        return outs


def _derive_session(spark, owner: str, ctor: str):
    """``spark`` or the active session: fetch-time derivations run on one."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"{owner} has derivations: fetch-time application needs a "
            f"SparkSession (pass spark= to {ctor})")
    return spark


def read_state(kv: KvStore, name: str, heads_ds: str, kb: bytes):
    """One key's stored state for GroupBy ``name``: (collapsed IR or None,
    [(hop_start, tile IR)], head rows of ``{name}__{heads_ds}``) — one get
    and two prefix scans. The head rows are stream events (``events``) or
    the entity tier's CDC mutations (``mutations``)."""
    b = kv.get(f"{name}__batch", kb)
    tiles = [(int(k.rsplit(b"|", 1)[1]), json.loads(v))
             for k, v in kv.scan(f"{name}__tiles", kb + b"|")]
    heads = [json.loads(v) for _, v in kv.scan(f"{name}__{heads_ds}", kb + b"|")]
    return (json.loads(b) if b is not None else None), tiles, heads


def window_irs(p, collapsed: Optional[dict], tiles: list[tuple[int, dict]],
               T: int) -> list[dict]:
    """Part ``p``'s batch IRs at T: the collapsed IR and every tile for an
    unbounded part, else the tiles from its hop-aligned window tail (each
    tile lies fully below the head)."""
    if p.window is None:
        return ([collapsed] if collapsed is not None else []) + [ir for _, ir in tiles]
    tail = p.window.tail_start(T)
    return [ir for hs, ir in tiles if hs >= tail]


def merge_state(parts, collapsed: Optional[dict],
                tiles: list[tuple[int, dict]], events: list[dict],
                T: int) -> dict:
    """The sawtooth lambda merge: ``window_irs`` + the raw head events with
    tail <= ts <= T, per part honoring its own hop-aligned window tail. The
    batch sketch serve (operators/approx_engine.py) applies the same rule
    to tiles built by the same ``group_sketches`` and finalizes through the
    same ``finalize_sketch``, so offline == online holds by construction."""
    out = {}
    for p in parts:
        lo = p.window.tail_start(T) if p.window is not None else -math.inf
        evs = [e for e in events if lo <= e["ts"] <= T]
        out[p.output_name] = finalize_part(p, window_irs(p, collapsed, tiles, T), evs)
    return out


def merge_sketches(op: Operation, raws):
    """The in-order merge of the sketch IRs ``raws`` (bytes or the KV tier's
    base64 text; None skipped), or None when there is none."""
    sk = None
    for raw in raws:
        if raw is None:
            continue
        cur = _sketch_cls(op).from_bytes(
            base64.b64decode(raw) if isinstance(raw, str) else bytes(raw))
        sk = cur if sk is None else sk.merge(cur)
    return sk


def finalize_sketch(op: Operation, sk, k: int, nfp: bool, pcts: Optional[list[float]]):
    """The value of a merged sketch: the HLL estimate, the Misra-Gries
    ``top_k`` (``nfp``: no false positives) or the KLL quantiles."""
    if op == Operation.APPROX_UNIQUE_COUNT:
        return int(round(sk.estimate()))
    if op in _FREQ:
        return sk.top_k(k, no_false_positives=nfp)
    return sk.quantiles(pcts)


def finalize_part(p, irs: list[dict], evs: list[dict]):
    """Per-op merge + head-event update + finalize of one part."""
    nm, op, col = p.output_name, p.operation, p.input_column
    vals = [e[col] for e in evs if e.get(col) is not None]
    if op in SKETCH_OPS:
        sk = merge_sketches(op, [ir.get(f"{nm}__sk") for ir in irs])
        if vals:
            sk = sk or _sketch_cls(op)()
            sk.update(vals)
        if sk is None:
            return None
        return finalize_sketch(op, sk, p.k or 1, op == Operation.APPROX_HEAVY_HITTERS_K,
                               p.percentiles)

    have = [ir for ir in irs if any(k.startswith(f"{nm}__") for k in ir)]
    if not have and not vals:
        return None
    if op == Operation.SUM:
        # gate on the __sum key specifically: an all-null tile encodes only
        # {nm}__count: 0 (0 survives _encode's None filter), which must NOT
        # turn a NULL sum into 0 — the exact batch engine returns NULL when
        # every in-window value is null. __count stays consumed only by the
        # entity tier's _signed_scalar.
        cands = [ir[f"{nm}__sum"] for ir in have if f"{nm}__sum" in ir]
        if not cands and not vals:
            return None
        return sum(cands) + sum(vals)
    if op == Operation.COUNT:
        # count-of-nothing renders NULL, not 0 (reference semantics: null
        # inputs never initialize the IR) — an all-null tile's __count: 0
        # must not make the part look present
        c = sum(ir.get(f"{nm}__count", 0) for ir in have) + len(vals)
        return c if c else None
    if op == Operation.AVERAGE:
        s = sum(ir.get(f"{nm}__sum", 0) for ir in have) + sum(vals)
        c = sum(ir.get(f"{nm}__count", 0) for ir in have) + len(vals)
        return s / c if c else None
    if op == Operation.MIN:
        cands = [ir[f"{nm}__min"] for ir in have if f"{nm}__min" in ir] + vals
        return min(cands) if cands else None
    if op == Operation.MAX:
        cands = [ir[f"{nm}__max"] for ir in have if f"{nm}__max" in ir] + vals
        return max(cands) if cands else None
    # FIRST / LAST: (ts, value) arg-extremes; head events carry their ts
    pairs = [(ir[f"{nm}__ts"], ir[f"{nm}__v"]) for ir in have
             if ir.get(f"{nm}__ts") is not None and f"{nm}__v" in ir]
    pairs += [(e["ts"], e[col]) for e in evs if e.get(col) is not None]
    if not pairs:
        return None
    if op == Operation.FIRST:
        return min(pairs, key=lambda t: t[0])[1]
    return max(pairs, key=lambda t: t[0])[1]


class JoinFetcher:
    """Online serving of a full Join: per-part GroupBy fetchers (prefixed
    like the offline merge) + onlineExternalParts routed to user-registered
    handlers (api.thrift:419-421 — external parts are fetch-time only; the
    offline backfill fills those columns from bootstrap tables).

    ``external_handlers`` maps ExternalSource.name -> callable taking a
    {key_column: value} dict and returning a {value_column: value} dict
    (the reference's ExternalSourceHandler.fetch shape).

    ``join.derivations`` are applied to the merged response (over the left
    row's columns + all part/external features, exactly the frame the
    offline MergeJob derives over), through the shared apply_derivations
    code path — a derived Join serves the same columns online as its
    backfill writes offline (reference Fetcher derivation stage)."""

    def __init__(self, kv: KvStore, join, external_handlers: Optional[dict] = None,
                 spark=None):
        self.join = join
        self.spark = spark
        self.part_fetchers = [(p, Fetcher(kv, p.group_by, spark=spark))
                              for p in join.parts]
        self.external_handlers = external_handlers or {}
        for ep in join.online_external_parts:
            if ep.source.name not in self.external_handlers:
                raise ValueError(
                    f"no handler registered for external source "
                    f"'{ep.source.name}' (have: {sorted(self.external_handlers)})")

    def fetch_join(self, left_row: dict, at_ts_ms: Optional[int] = None,
                   derive: bool = True) -> dict:
        out = self._fetch_raw(left_row, at_ts_ms)
        if derive and self.join.derivations:
            return self.derive_rows([(left_row, out)])[0]
        return out

    def fetch_join_batch(self, left_rows: list[dict],
                         at_ts_ms: Optional[int] = None) -> list[dict]:
        """Many lookups, ONE derivation job (the scalable serving shape —
        the reference Fetcher also batches request lists)."""
        raws = [self._fetch_raw(r, at_ts_ms) for r in left_rows]
        if self.join.derivations:
            return self.derive_rows(list(zip(left_rows, raws)))
        return raws

    def _fetch_raw(self, left_row: dict, at_ts_ms: Optional[int]) -> dict:
        out = {}
        for part, f in self.part_fetchers:
            inv = {r: l for l, r in part.key_mapping}
            keys = tuple(left_row.get(inv.get(r, r))
                         for r in part.group_by.key_columns)
            vals = f.fetch(keys, at_ts_ms=at_ts_ms)
            out.update({f"{part.full_prefix}_{nm}": v for nm, v in vals.items()})
        for ep in self.join.online_external_parts:
            inv = {r: l for l, r in ep.key_mapping}
            req = {k: left_row.get(inv.get(k, k)) for k in ep.source.key_columns}
            resp = self.external_handlers[ep.source.name](req) or {}
            for c in ep.source.value_columns:
                out[ep.column_name(c)] = resp.get(c)
        return out

    def derive_rows(self, pairs: list[tuple[dict, dict]]) -> list[dict]:
        """Apply join.derivations over (left_row + features) dicts; left
        columns are kept (the offline merge's always_keep contract)."""
        from zipline_chronon_spark.operators.derive import apply_derivations_rows

        spark = _derive_session(self.spark, f"Join {self.join.name}", "JoinFetcher")
        keep = list(dict.fromkeys(c for left, _ in pairs for c in left))
        rows = [{**left, **feats} for left, feats in pairs]
        if not hasattr(self, "_hint"):
            self._hint = {}
            for part, _ in self.part_fetchers:
                self._hint.update(feature_schema_hint(
                    spark, part.group_by, prefix=part.full_prefix))
        return apply_derivations_rows(spark, rows, self.join.derivations,
                                      always_keep=keep, schema_hint=self._hint)
