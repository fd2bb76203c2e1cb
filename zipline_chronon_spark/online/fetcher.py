"""GroupByUpload + Fetcher: the online serving tier.

Reference shape (GroupByUpload.scala:112-300 batch IR upload;
SawtoothOnlineAggregator.scala:32-167 batchEndTs split into collapsed IR +
tail hops; Fetcher merge; FetcherTestUtil.scala:245-740 asserts offline
join == online fetch). The same decomposition here:

 - upload_batch_state(T0): per key, ONE collapsed IR over events too old
   for any window tail (ts < tile_floor), plus per-(key, hop) TILE IRs
   covering [tile_floor, T0] at the finest tail-hop granularity (hops
   nest: a 1h tail boundary is always a 5m tile boundary).
 - upload_stream_events(T0, T1]: raw head events (the online head must be
   exact; tiles would quantize it).
 - Fetcher.fetch(key, T): per feature —
     unbounded: collapsed + all tiles + head events with ts <= T
     windowed:  tiles with hop_start >= round(T - w, tailHop(w))
                + head events with tail <= ts <= T
   then finalize. The head rule is the BATCH rule (ts <= T inclusive) so
   online fetch equals the offline engine exactly (the reference keeps a
   deliberate strict-< online discrepancy; we match batch for parity).

IRs: scalars (sum / count / (sum,count) / min / max / (ts,value)
arg-extremes) and sketch bytes (HLL / KLL / Misra-Gries) — all
associative, so tile merge order never matters.

Upload streams IR rows into the KV seam from the executors
(KvStore.write_rows; the in-memory test store overrides with a documented
driver-side collecting adapter — same bytes either way). Parity oracle
(tests/test_fetcher.py): fetch at T1 == compute_key_states at T1.
"""

from __future__ import annotations

import base64
import json
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
    floors = [((batch_end_ms - p.window.millis) // p.window.tail_hop_millis())
              * p.window.tail_hop_millis()
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

        from zipline_chronon_spark.operators.arrow_engine import whole_groups

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
        # upload (measured 120 s for 234k tiles vs ~2 s batched). Sort by
        # group, split segments with np.searchsorted over the group
        # boundaries, and build each segment's sketch from pre-extracted
        # (and for HLL pre-hashed) column arrays.
        def build_batch(tbl: pa.Table, start: np.ndarray) -> pa.RecordBatch:
            starts = np.flatnonzero(start)
            ends = np.r_[starts[1:], tbl.num_rows]
            out = tbl.select(gcols_b).take(starts).to_pandas()
            for p in sp:
                col = tbl.column(p.input_column).to_pandas()
                vpos = np.flatnonzero(~col.isna().to_numpy())
                arr = col.dropna().to_numpy()  # dtype as the old per-group path
                if p.operation == Operation.APPROX_UNIQUE_COUNT:
                    from zipline_chronon_spark.operators.sketches import hash64
                    hv = hash64(arr) if len(arr) else None
                blobs = []
                for s, e in zip(starts, ends):
                    a = np.searchsorted(vpos, s)
                    b = np.searchsorted(vpos, e)
                    sk = _new_sketch(p.operation)
                    if b > a:
                        if p.operation == Operation.APPROX_UNIQUE_COUNT:
                            sk.update_hashes(hv[a:b])
                        else:
                            sk.update(arr[a:b])
                    blobs.append(sk.to_bytes())
                out[f"{p.output_name}__sk"] = blobs
            return pa.RecordBatch.from_pandas(out, schema=arrow_schema,
                                              preserve_index=False)

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


def _new_sketch(op: Operation):
    if op == Operation.APPROX_UNIQUE_COUNT:
        return HllSketch()
    if op in _FREQ:
        return FreqSketch()
    return KllSketch()


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


def _upload_ir_split(kv: KvStore, gb: GroupBy, ev: DataFrame,
                     batch_end_ms: int) -> int:
    """The collapsed-IR + tail-hop-tile split over an already-projected
    event frame (keys + inputs + TS_COL) — shared by the events tier
    (upload_batch_state) and the entity tier (upload_entity_batch_state,
    which feeds snapshot rows through the same datasets/encoding)."""
    from zipline_chronon_spark.operators import pit_join

    parts = _parts(gb)
    hop = _tile_hop(gb)
    floor = _tile_floor(gb, batch_end_ms)
    keys = list(gb.key_columns)
    batch_ds, tile_ds = f"{gb.name}__batch", f"{gb.name}__tiles"

    def enc_batch(d: dict) -> tuple[str, bytes, bytes]:
        return (batch_ds, key_bytes(tuple(d[k] for k in keys)), _encode(d, parts))

    def enc_tile(d: dict) -> tuple[str, bytes, bytes]:
        key = (key_bytes(tuple(d[k] for k in keys))
               + b"|" + str(d["__tile"]).encode())
        return (tile_ds, key, _encode(d, parts))

    if floor is None:  # unbounded-only: one collapsed row per key
        n = kv.write_rows(_ir_rows(ev, gb), enc_batch)
    else:
        old = ev.where(F.col(pit_join.TS_COL) < floor)
        recent = ev.where(F.col(pit_join.TS_COL) >= floor)
        n = kv.write_rows(_ir_rows(old, gb), enc_batch)
        n += kv.write_rows(_ir_rows(recent, gb, tile_hop=hop), enc_tile)
    kv.put(f"{gb.name}__meta", b"tile_floor", str(floor if floor is not None else -1).encode())
    return n


def group_by_upload_df(spark: SparkSession, gb: GroupBy,
                       batch_end_ms: int) -> DataFrame:
    """The GroupByUpload OUTPUT TABLE: one row per (key[, tile]) with the
    encoded IR payload — the reference materializes exactly this shape to a
    warehouse table that a separate bulk-load job ships into the KV store
    (GroupByUpload.scala:112-300; here the Avro IR bytes are the JSON
    encoding behind the same seam). Columns: keys…, __tile (null for the
    collapsed row), __ir (binary). Write it with the catalog and bulk-load
    later, or skip the table and stream directly via upload_batch_state."""
    from pyspark.sql import types as T

    from zipline_chronon_spark.operators import pit_join

    parts = _parts(gb)
    hop = _tile_hop(gb)
    floor = _tile_floor(gb, batch_end_ms)
    keys = list(gb.key_columns)
    ev = _events(spark, gb, None, batch_end_ms)

    def encode_rows(df: DataFrame, tiled: bool) -> DataFrame:
        cols = keys + (["__tile"] if tiled else [])
        # pandas widens nullable long columns to float64: remember which
        # columns must encode as ints so the table round-trip is
        # byte-identical to the direct streaming upload
        int_cols = {f.name for f in df.schema.fields
                    if f.dataType.typeName() in ("long", "integer", "short")}
        schema = T.StructType(
            [df.schema[c] for c in cols]
            + ([] if tiled else [T.StructField("__tile", T.LongType(), True)])
            + [T.StructField("__ir", T.BinaryType(), True)])

        def enc(it):
            import pandas as pd

            def native(c, v):
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    return None
                if hasattr(v, "item"):
                    v = v.item()
                if c in int_cols and isinstance(v, float):
                    return int(v)
                return v

            for pdf in it:
                recs = [{c: native(c, v) for c, v in r.items()}
                        for r in pdf.to_dict("records")]
                out = {c: [r.get(c) for r in recs] for c in cols}
                if not tiled:
                    out["__tile"] = [None] * len(recs)
                out["__ir"] = [_encode(r, parts) for r in recs]
                yield pd.DataFrame(out)

        return df.mapInPandas(enc, schema=schema)

    if floor is None:
        return encode_rows(_ir_rows(ev, gb), tiled=False)
    old = ev.where(F.col(pit_join.TS_COL) < floor)
    recent = ev.where(F.col(pit_join.TS_COL) >= floor)
    return encode_rows(_ir_rows(old, gb), tiled=False).unionByName(
        encode_rows(_ir_rows(recent, gb, tile_hop=hop), tiled=True))


def bulk_load(kv: KvStore, upload_df: DataFrame, gb: GroupBy,
              batch_end_ms: Optional[int] = None) -> int:
    """Ship a materialized GroupByUpload table into the KV store from the
    executors (the reference's bulk-load step). Pass ``batch_end_ms`` to
    also stamp the serving metadata the Fetcher reads."""
    keys = list(gb.key_columns)
    batch_ds, tile_ds = f"{gb.name}__batch", f"{gb.name}__tiles"

    def enc(d: dict) -> tuple[str, bytes, bytes]:
        kb = key_bytes(tuple(d[k] for k in keys))
        if d["__tile"] is None:
            return (batch_ds, kb, bytes(d["__ir"]))
        return (tile_ds, kb + b"|" + str(d["__tile"]).encode(), bytes(d["__ir"]))

    n = kv.write_rows(upload_df, enc)
    if batch_end_ms is not None:
        floor = _tile_floor(gb, batch_end_ms)
        kv.put(f"{gb.name}__meta", b"batch_end_ms", str(batch_end_ms).encode())
        kv.put(f"{gb.name}__meta", b"tile_floor",
               str(floor if floor is not None else -1).encode())
    return n


def upload_batch_state(kv: KvStore, spark: SparkSession, gb: GroupBy,
                       batch_end_ms: int) -> int:
    """GroupByUpload: collapsed IR per key (events too old for any window
    tail) + tail-hop tiles covering [tile_floor, batch_end]. IR rows stream
    into the KV seam from the executors (KvStore.write_rows); only the two
    tiny meta rows are written driver-side."""
    ev = _events(spark, gb, None, batch_end_ms)
    n = _upload_ir_split(kv, gb, ev, batch_end_ms)
    kv.put(f"{gb.name}__meta", b"batch_end_ms", str(batch_end_ms).encode())
    return n


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
        from pyspark.sql import SparkSession

        spark = self.spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"GroupBy {self.gb.name} has derivations: fetch-time "
                f"application needs a SparkSession (pass spark= to Fetcher)")
        return spark

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
        kb = key_bytes(key_values)
        T = at_ts_ms if at_ts_ms is not None else self.batch_end_ms
        collapsed = None
        b = self.kv.get(f"{self.gb.name}__batch", kb)
        if b is not None:
            collapsed = json.loads(b)
        tiles = []
        for k, v in self.kv.scan(f"{self.gb.name}__tiles", kb + b"|"):
            hop_start = int(k.rsplit(b"|", 1)[1])
            tiles.append((hop_start, json.loads(v)))
        events = []
        for k, v in self.kv.scan(f"{self.gb.name}__events", kb + b"|"):
            e = json.loads(v)
            if e["ts"] <= T:
                events.append(e)
        out = merge_state(self.parts, collapsed, tiles, events, T)
        if derive and self.gb.derivations:
            out = self.derive_rows([out])[0]
        return out

    def fetch_batch(self, key_tuples: list[tuple],
                    at_ts_ms: Optional[int] = None,
                    derive: bool = True) -> list[dict]:
        """Many keys in ONE pass per dataset (the request-batched serving
        shape — the reference Fetcher also groups GetRequests per dataset):
        per-key results identical to ``fetch``. Against a store whose scan
        is O(dataset) per call (InMemoryKv), this turns U fetches from
        O(U x dataset) into O(dataset); against an indexed store it is one
        multi-get instead of U round-trips."""
        from collections import defaultdict

        T = at_ts_ms if at_ts_ms is not None else self.batch_end_ms
        kbs = [key_bytes(k) for k in key_tuples]
        want = set(kbs)
        name = self.gb.name
        collapsed: dict[bytes, dict] = {}
        for kb in want:
            b = self.kv.get(f"{name}__batch", kb)
            if b is not None:
                collapsed[kb] = json.loads(b)
        tiles: dict[bytes, list] = defaultdict(list)
        # suffix components (hop / ts / seq) never contain '|', so rsplit
        # recovers the exact key prefix regardless of key content
        for k, v in self.kv.scan(f"{name}__tiles"):
            kb = k.rsplit(b"|", 1)[0]
            if kb in want:
                tiles[kb].append((int(k.rsplit(b"|", 1)[1]), json.loads(v)))
        events: dict[bytes, list] = defaultdict(list)
        for k, v in self.kv.scan(f"{name}__events"):
            kb = k.rsplit(b"|", 2)[0]
            if kb in want:
                e = json.loads(v)
                if e["ts"] <= T:
                    events[kb].append(e)
        outs = [merge_state(self.parts, collapsed.get(kb), tiles.get(kb, []),
                            events.get(kb, []), T) for kb in kbs]
        if derive and self.gb.derivations:
            outs = self.derive_rows(outs)
        return outs


def merge_state(parts, collapsed: Optional[dict],
                tiles: list[tuple[int, dict]], events: list[dict],
                T: int) -> dict:
    """The sawtooth lambda merge: collapsed IR + per-hop tiles (each tile
    fully below the head) + raw head events, per part honoring its own
    hop-aligned window tail. Shared by the online Fetcher and the batch
    sketch engine (operators/approx_engine.py) so offline == online is
    true by construction."""
    out = {}
    for p in parts:
        irs = []
        if p.window is None:
            if collapsed is not None:
                irs.append(collapsed)
            irs.extend(ir for _, ir in tiles)
            evs = events
        else:
            hop = p.window.tail_hop_millis()
            tail = ((T - p.window.millis) // hop) * hop
            irs.extend(ir for hs, ir in tiles if hs >= tail)
            evs = [e for e in events if e["ts"] >= tail]
        out[p.output_name] = finalize_part(p, irs, evs)
    return out


def _sketch_bytes(raw) -> Optional[bytes]:
    if raw is None:
        return None
    if isinstance(raw, str):  # KV tier stores b64-in-JSON
        return base64.b64decode(raw)
    return bytes(raw)  # Spark binary column


def finalize_part(p, irs: list[dict], evs: list[dict]):
    """Per-op merge + head-event update + finalize of one part."""
    nm, op, col = p.output_name, p.operation, p.input_column
    vals = [e[col] for e in evs if e.get(col) is not None]
    if op in SKETCH_OPS:
        sk = None
        for ir in irs:
            raw = _sketch_bytes(ir.get(f"{nm}__sk"))
            if raw is None:
                continue
            cur = _sketch_cls(op).from_bytes(raw)
            sk = cur if sk is None else sk.merge(cur)
        if vals:
            sk = sk or _new_sketch(op)
            sk.update(vals)
        if sk is None:
            return None
        if op == Operation.APPROX_UNIQUE_COUNT:
            return int(round(sk.estimate()))
        if op in _FREQ:
            return sk.top_k(p.k or 1,
                            no_false_positives=op == Operation.APPROX_HEAVY_HITTERS_K)
        pcts = [float(x) for x in
                p.args.get("percentiles", "[0.5]").strip("[] ").split(",")]
        return sk.quantiles(pcts)

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
        from pyspark.sql import SparkSession

        from zipline_chronon_spark.operators.derive import apply_derivations_rows

        spark = self.spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"Join {self.join.name} has derivations: fetch-time "
                f"application needs a SparkSession (pass spark= to JoinFetcher)")
        keep = list(dict.fromkeys(c for left, _ in pairs for c in left))
        rows = [{**left, **feats} for left, feats in pairs]
        if not hasattr(self, "_hint"):
            self._hint = {}
            for part, _ in self.part_fetchers:
                self._hint.update(feature_schema_hint(
                    spark, part.group_by, prefix=part.full_prefix))
        return apply_derivations_rows(spark, rows, self.join.derivations,
                                      always_keep=keep, schema_hint=self._hint)
