"""Lambda-architecture merge: batch sketch states + streaming tiles.

The reference's online tier uploads per-key batch IRs (GroupByUpload.scala
:112-300) and merges them with post-batch streaming tiles at fetch time
(SawtoothOnlineAggregator.scala:86-167 lambdaAggregateFinalized). This
module is the PySpark equivalent for sketch-backed ops:

    sketch_tiles(events, gb, hop)      -> (keys, hop_start_ms, <op IR bytes>)
    collapse(tiles, gb)                -> one merged IR row per key
    finalize(states, gb)               -> per-key estimates

IRs are the mergeable numpy sketches (operators/sketches.py): HLL bytes for
APPROX_UNIQUE_COUNT, KLL bytes for APPROX_PERCENTILE. Because merge is
associative+commutative, `collapse(batch_tiles UNION stream_tiles)` equals
the batch engine evaluated at the merged watermark — the parity oracle in
tests/test_lambda_merge.py (the reference's strongest e2e shape:
offline-join == online-fetch, FetcherTestUtil.scala:245-740).

Everything runs as grouped Arrow tasks (applyInPandas); per-key state is
O(sketch), never O(distinct) — the property the exact batch kernels cannot
provide at the KV tier.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zipline_chronon_spark.api import GroupBy, Operation
from zipline_chronon_spark.online import fetcher as fl


def _sketch_parts(gb: GroupBy) -> list:
    parts = [p for p in gb.parts() if p.operation in fl.SKETCH_OPS]
    if not parts:
        raise ValueError("GroupBy has no sketch-backed aggregations")
    return parts


def _ir_col(part) -> str:
    return f"{part.output_name}_ir"


def _finalized_schema(df: DataFrame, keys: list, parts: list) -> T.StructType:
    """The keys plus one finalized estimate column per sketch part."""
    schema = df.select(*keys).schema
    for pt in parts:
        if pt.operation == Operation.APPROX_UNIQUE_COUNT:
            schema = schema.add(pt.output_name, T.LongType())
        elif pt.operation in fl._FREQ:
            schema = schema.add(pt.output_name, T.MapType(T.StringType(), T.LongType()))
        else:
            schema = schema.add(pt.output_name, T.ArrayType(T.DoubleType()))
    return schema


def sketch_tiles(df: DataFrame, gb: GroupBy, hop_ms: int,
                 ts_col: str = "ts") -> DataFrame:
    """One row per (key, hop) with a sketch IR per approx aggregation —
    the tile granularity of the streaming half (hop_stream.py) expressed
    as IR bytes instead of finalized values."""
    parts = _sketch_parts(gb)
    keys = list(gb.key_columns)
    selects = {}
    for s in gb.sources:
        selects.update(s.query.selects or {})
    from zipline_chronon_spark.operators import pit_join

    cols = [F.expr(selects.get(n, n)).alias(n)
            for n in dict.fromkeys([*keys, *(p.input_column for p in parts)])]
    ts_dt = df.select(F.col(ts_col).alias("t")).schema[0].dataType
    # normalize via the engine's shared rule: a long column IS epoch millis
    # (casting long->timestamp would read it as SECONDS and break hop math)
    p = df.select(*cols,
                  pit_join._time_to_millis(F.col(ts_col), ts_dt).alias("__ts_ms"))
    p = p.withColumn("hop_start_ms", (F.col("__ts_ms") / hop_ms).cast("long") * hop_ms)

    key_fields = df.select(*[F.expr(selects.get(k, k)).alias(k) for k in keys]).schema
    schema = key_fields.add("hop_start_ms", T.LongType())
    for pt in parts:
        schema = schema.add(_ir_col(pt), T.BinaryType())

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["hop_start_ms"] = [pdf["hop_start_ms"].iloc[0]]
        for pt in parts:
            vals = pdf[pt.input_column].dropna().to_numpy()
            out[_ir_col(pt)] = [fl._new_sketch(pt.operation).update(vals).to_bytes()]
        return pd.DataFrame(out)

    return p.groupBy(*keys, "hop_start_ms").applyInPandas(build, schema=schema)


def collapse(tiles: DataFrame, gb: GroupBy) -> DataFrame:
    """Merge all tiles per key into one IR row (the batch-upload state;
    also the fetch-time merge when applied to batch-state UNION stream
    tiles — merge is associative and commutative)."""
    parts = _sketch_parts(gb)
    keys = list(gb.key_columns)
    schema = tiles.drop("hop_start_ms").schema

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {k: [pdf[k].iloc[0]] for k in keys}
        for pt in parts:
            sk = None
            for b in pdf[_ir_col(pt)]:
                cur = fl._sketch_cls(pt.operation).from_bytes(bytes(b))
                sk = cur if sk is None else sk.merge(cur)
            out[_ir_col(pt)] = [sk.to_bytes()]
        return pd.DataFrame(out)

    return tiles.groupBy(*keys).applyInPandas(merge_group, schema=schema)


def finalize(states: DataFrame, gb: GroupBy) -> DataFrame:
    """IR bytes -> estimates through the Fetcher's ``finalize_part``: HLL
    estimate (exact in the sparse regime), KLL quantiles (exact in the
    buffer regime), Misra-Gries top-k."""
    parts = _sketch_parts(gb)
    keys = list(gb.key_columns)

    def fin(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {k: pdf[k] for k in keys}
        for pt in parts:
            sk = f"{pt.output_name}__sk"
            out[pt.output_name] = [fl.finalize_part(pt, [{sk: b}], [])
                                   for b in pdf[_ir_col(pt)]]
        return pd.DataFrame(out)

    return states.mapInPandas(lambda it: (fin(pdf) for pdf in it),
                              schema=_finalized_schema(states, keys, parts))


def lambda_finalized(batch_state: DataFrame, stream_tiles: DataFrame,
                     gb: GroupBy, at_ts_ms: int | None = None) -> DataFrame:
    """Fetch-time merge: per-key batch IR + post-batch tiles -> estimates
    (SawtoothOnlineAggregator.lambdaAggregateFinalized analogue).

    ONE entry point for both window shapes (reference handles windowed
    directly in SawtoothOnlineAggregator.scala:86-167):

    - all parts unbounded: every IR merges regardless of time; ``at_ts_ms``
      is not needed and ``batch_state`` may be fully collapsed (no
      ``hop_start_ms`` column).
    - any windowed part: pass ``at_ts_ms`` (the fetch time) and keep
      ``batch_state`` TILED (a collapsed row cannot serve a window tail) —
      each part then honors its hop-aligned tail via the shared
      online merge (online/fetcher.py merge_state), so this module agrees
      with the Fetcher and the batch approx engine by construction.
    """
    windowed = [p for p in _sketch_parts(gb) if p.window is not None]
    if not windowed:
        union = batch_state.unionByName(stream_tiles.drop("hop_start_ms"))
        return finalize(collapse(union.withColumn("hop_start_ms", F.lit(0)), gb), gb)
    if at_ts_ms is None:
        raise ValueError(
            f"GroupBy {gb.name} has windowed approx parts "
            f"({[p.output_name for p in windowed]}): pass at_ts_ms so their "
            f"sawtooth tails can be resolved")
    if "hop_start_ms" not in batch_state.columns:
        raise ValueError(
            "windowed lambda merge needs TILED batch state (hop_start_ms "
            "column): a collapsed batch IR cannot serve a window tail — "
            "build it with sketch_tiles(...), not collapse(...)")
    return sawtooth_finalized(batch_state, stream_tiles, gb, at_ts_ms)


def sawtooth_finalized(batch_tiles: DataFrame, stream_tiles: DataFrame,
                       gb: GroupBy, at_ts_ms: int) -> DataFrame:
    """Windowed fetch-time merge: per key, select the batch+stream tiles
    each part's hop-aligned window tail admits at ``at_ts_ms`` and finalize
    — routed through online/fetcher.py merge_state, the SAME code the
    Fetcher and the batch approx engine run. Rows without ``hop_start_ms``
    (collapsed batch state) feed only unbounded parts, mirroring the
    collapsed-IR rule of the upload split."""
    parts = _sketch_parts(gb)
    keys = list(gb.key_columns)
    b = batch_tiles
    if "hop_start_ms" not in b.columns:
        b = b.withColumn("hop_start_ms", F.lit(None).cast("long"))
    # upper bound: a live stream can hold tiles at/after the fetch point;
    # merge_state applies only the window-tail LOWER bound, so without this
    # filter, tiles entirely AFTER the fetch point would be fully counted.
    # The head is quantized to the hop here: the tile containing at_ts_ms
    # is kept whole — unlike the Fetcher, which keeps raw head events and
    # cuts exactly at ts <= T.
    union = b.unionByName(stream_tiles).where(
        F.col("hop_start_ms").isNull() | (F.col("hop_start_ms") <= F.lit(at_ts_ms)))

    ir_cols = {pt.output_name: _ir_col(pt) for pt in parts}
    cls_by_col = {f"{pt.output_name}__sk": fl._sketch_cls(pt.operation)
                  for pt in parts}

    def fin(pdf: pd.DataFrame) -> pd.DataFrame:
        hops = pdf["hop_start_ms"].tolist()
        cols = {nm: pdf[c].tolist() for nm, c in ir_cols.items()}
        tiles: list[tuple[int, dict]] = []
        collapsed: dict = {}
        for i, h in enumerate(hops):
            ir = {f"{nm}__sk": bytes(cols[nm][i]) for nm in cols
                  if cols[nm][i] is not None}
            if h is None or (isinstance(h, float) and pd.isna(h)):
                # collapsed batch row: merge_state reads it for unbounded
                # parts only — merge multiple via the sketch merge itself
                for k, v in ir.items():
                    if k in collapsed:
                        a = cls_by_col[k]
                        collapsed[k] = a.from_bytes(collapsed[k]).merge(
                            a.from_bytes(v)).to_bytes()
                    else:
                        collapsed[k] = v
            else:
                tiles.append((int(h), ir))
        merged = fl.merge_state(parts, collapsed or None, tiles, [], at_ts_ms)
        out = {k: [pdf[k].iloc[0]] for k in keys}
        for pt in parts:
            out[pt.output_name] = [merged[pt.output_name]]
        return pd.DataFrame(out)

    return union.groupBy(*keys).applyInPandas(
        lambda _k, pdf: fin(pdf), schema=_finalized_schema(union, keys, parts))
