"""Lambda-architecture merge: batch sketch states + streaming tiles.

The reference's online tier uploads per-key batch IRs (GroupByUpload.scala
:112-300) and merges them with post-batch streaming tiles at fetch time
(SawtoothOnlineAggregator.scala:86-167 lambdaAggregateFinalized). This
module is the PySpark equivalent for sketch-backed ops:

    sketch_tiles(events, gb, hop)      -> (keys, hop_start_ms, <op IR bytes>)
    collapse(tiles, gb)                -> one merged IR row per key
    finalize(states, gb)               -> per-key estimates
    lambda_finalized(batch, stream, gb[, at_ts_ms]) -> estimates at a fetch

IRs are the mergeable numpy sketches (operators/sketches.py): HLL bytes for
APPROX_UNIQUE_COUNT, KLL bytes for APPROX_PERCENTILE. Because merge is
associative+commutative, `collapse(batch_tiles UNION stream_tiles)` equals
the batch engine evaluated at the merged watermark — the parity oracle in
tests/test_lambda_merge.py (the reference's strongest e2e shape:
offline-join == online-fetch, FetcherTestUtil.scala:245-740).

Tiles come from the online upload's tile builder (one ``mapInArrow`` pass
over key-sorted batches). collapse, finalize and lambda_finalized share one
grouped Arrow runner (``_per_key``, ``groupBy(keys).applyInArrow``) whose
merges are the Fetcher's own (``fetcher.merge_sketches`` and
``fetcher.merge_state``). Per-key state is O(sketch), never O(distinct) —
the property the exact batch kernels cannot provide at the KV tier.
"""

from __future__ import annotations

import dataclasses

import pyarrow as pa
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
    as IR bytes instead of finalized values. Built by the online upload's
    tile builder (``fetcher._ir_rows``), so both tiers write the same IR
    from the same typed inputs."""
    from zipline_chronon_spark.operators import pit_join

    parts = _sketch_parts(gb)
    keys = list(gb.key_columns)
    selects = {}
    for s in gb.sources:
        selects.update(s.query.selects or {})
    cols = [F.expr(selects.get(n, n)).alias(n)
            for n in dict.fromkeys([*keys, *(p.input_column for p in parts)])]
    ts_dt = df.select(F.col(ts_col).alias("t")).schema[0].dataType
    # normalize via the engine's shared rule: a long column IS epoch millis
    # (casting long->timestamp would read it as SECONDS and break hop math)
    p = df.select(*cols,
                  pit_join._time_to_millis(F.col(ts_col), ts_dt).alias(pit_join.TS_COL))
    gb_sk = dataclasses.replace(gb, aggregations=tuple(
        a for a in gb.aggregations if a.operation in fl.SKETCH_OPS))
    return fl._ir_rows(p, gb_sk, tile_hop=hop_ms).select(
        *keys, F.col("__tile").alias("hop_start_ms"),
        *[F.col(f"{pt.output_name}__sk").alias(_ir_col(pt)) for pt in parts])


def _per_key(df: DataFrame, gb: GroupBy, schema: T.StructType, finish) -> DataFrame:
    """The module's one grouped runner, ``groupBy(keys).applyInArrow``. Per
    key, rows with a null ``hop_start_ms`` (all rows, without that column)
    merge into one collapsed IR and the rest are tiles
    ``[(hop_start_ms, IR)]`` in row order, IRs keyed ``{part}__sk`` as the
    Fetcher reads them. ``finish(collapsed or None, tiles)`` gives the key's
    output values after the keys. Null keys form one group."""
    from pyspark.sql.pandas.types import to_arrow_schema

    parts = _sketch_parts(gb)
    keys = list(gb.key_columns)
    if "hop_start_ms" not in df.columns:
        df = df.withColumn("hop_start_ms", F.lit(None).cast("long"))
    fields = list(to_arrow_schema(schema))[len(keys):]

    def run(tbl: pa.Table) -> pa.Table:
        hops = tbl.column("hop_start_ms").to_pylist()
        irs = {f"{p.output_name}__sk": tbl.column(_ir_col(p)).to_pylist() for p in parts}
        collapsed = {}
        for p in parts:
            sk = f"{p.output_name}__sk"
            m = fl.merge_sketches(p.operation, [v for v, h in zip(irs[sk], hops) if h is None])
            if m is not None:
                collapsed[sk] = m.to_bytes()
        tiles = [(h, {sk: v[i] for sk, v in irs.items()})
                 for i, h in enumerate(hops) if h is not None]
        out = tbl.select(keys).slice(0, 1)
        for f, v in zip(fields, finish(collapsed or None, tiles)):
            out = out.append_column(f, pa.array([v], f.type))
        return out

    return df.groupBy(*keys).applyInArrow(run, schema=schema)


def collapse(tiles: DataFrame, gb: GroupBy) -> DataFrame:
    """Merge all tiles per key into one IR row (the batch-upload state;
    also the fetch-time merge when applied to batch-state UNION stream
    tiles — merge is associative and commutative)."""
    parts = _sketch_parts(gb)

    def merged(collapsed, tile_irs):
        irs = [collapsed or {}] + [ir for _, ir in tile_irs]
        sks = [fl.merge_sketches(p.operation, [ir.get(f"{p.output_name}__sk") for ir in irs])
               for p in parts]
        return [sk.to_bytes() if sk is not None else None for sk in sks]

    schema = tiles.select(*gb.key_columns, *map(_ir_col, parts)).schema
    return _per_key(tiles, gb, schema, merged)


def _finalized(df: DataFrame, gb: GroupBy, at_ts_ms: int | None) -> DataFrame:
    """Per-key estimates at ``at_ts_ms`` through the Fetcher's
    ``merge_state`` (a windowed part reads its hop-aligned tail's tiles)."""
    parts = _sketch_parts(gb)
    windowed = [p.output_name for p in parts if p.window is not None]
    if windowed and at_ts_ms is None:
        raise ValueError(
            f"GroupBy {gb.name} has windowed approx parts ({windowed}): pass "
            f"at_ts_ms so their sawtooth tails can be resolved")

    def fin(collapsed, tiles):
        merged = fl.merge_state(parts, collapsed, tiles, [], at_ts_ms)
        return [merged[p.output_name] for p in parts]

    return _per_key(df, gb, _finalized_schema(df, list(gb.key_columns), parts), fin)


def finalize(states: DataFrame, gb: GroupBy) -> DataFrame:
    """IR bytes -> estimates through the Fetcher's ``finalize_part``: HLL
    estimate (exact in the sparse regime), KLL quantiles (exact in the
    buffer regime), Misra-Gries top-k. Rows of one key merge first."""
    return _finalized(states, gb, None)


def lambda_finalized(batch_state: DataFrame, stream_tiles: DataFrame,
                     gb: GroupBy, at_ts_ms: int | None = None) -> DataFrame:
    """Fetch-time merge: per-key batch IR + post-batch tiles -> estimates
    (SawtoothOnlineAggregator.lambdaAggregateFinalized analogue).

    ONE entry point for both window shapes (reference handles windowed
    directly in SawtoothOnlineAggregator.scala:86-167):

    - all parts unbounded: every IR merges; ``at_ts_ms`` is not needed and
      ``batch_state`` may be fully collapsed (no ``hop_start_ms`` column).
    - any windowed part: pass ``at_ts_ms`` (the fetch time) and keep
      ``batch_state`` TILED (a collapsed row cannot serve a window tail) —
      each part then honors its hop-aligned tail via the shared online
      merge (online/fetcher.py merge_state), so this module agrees with the
      Fetcher and the batch approx engine by construction.

    Given ``at_ts_ms``, tiles starting after it are dropped (a live stream
    can run ahead of the fetch; ``merge_state`` bounds only the tail). The
    head is quantized to the hop: the tile containing ``at_ts_ms`` is kept
    whole — unlike the Fetcher, which cuts raw head events at ts <= T.
    """
    if (any(p.window is not None for p in _sketch_parts(gb))
            and "hop_start_ms" not in batch_state.columns):
        raise ValueError(
            "windowed lambda merge needs TILED batch state (hop_start_ms "
            "column): a collapsed batch IR cannot serve a window tail — "
            "build it with sketch_tiles(...), not collapse(...)")
    union = batch_state.unionByName(stream_tiles, allowMissingColumns=True)
    if at_ts_ms is not None:
        union = union.where(F.col("hop_start_ms").isNull()
                            | (F.col("hop_start_ms") <= F.lit(at_ts_ms)))
    return _finalized(union, gb, at_ts_ms)
