"""Streaming hop-tile aggregation — the online half of the lambda
architecture.

Mirrors the reference's Flink tiled path (flink/.../
FlinkGroupByStreamingJob.scala:131-221: keyBy(keys) →
TumblingEventTimeWindows(smallest tail hop) → RowAggregator as
AggregateFunction → tile IR to KV) with Structured Streaming:

    readStream → withWatermark(ts, lateness) →
    groupBy(keys, window(ts, hop)) → partial-IR aggregates → sink

A tile is one (key, hop-window) row of MERGEABLE intermediate state (sum +
count, min, max, argmax-by-ts …), identical in meaning to the batch
engine's per-hop partial IRs (HopsAggregator.scala:36-175). Batch/stream
parity therefore reduces to: streaming tiles == batch groupBy(hop) tiles —
which is exactly what the test asserts; a fetcher can merge tile IRs with
the batch collapsed IR at query time (SawtoothOnlineAggregator.scala
semantics).

Ops with mergeable scalar IRs are supported here (SUM, COUNT, MIN, MAX,
AVERAGE via (sum, count), FIRST/LAST via (ts, value) argmin/argmax), plus
APPROX_UNIQUE_COUNT as a Spark HLL sketch per tile (merge_tile_sketches).
The other sketch ops tile as IR bytes in lambda_merge.py.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zipline_chronon_spark.api import GroupBy, Operation

_TILE_OPS = {
    Operation.SUM, Operation.COUNT, Operation.MIN, Operation.MAX,
    Operation.AVERAGE, Operation.FIRST, Operation.LAST,
    # mergeable sketch IR via Spark's built-in Datasketches HLL
    # (the reference uses CPC sketches for the same role,
    # SimpleAggregators.scala:499-543)
    Operation.APPROX_UNIQUE_COUNT,
}


def tile_aggregates(gb: GroupBy) -> list[F.Column]:
    """Partial-IR aggregate expressions for one tile, deduped by (op,col)."""
    aggs: dict[str, F.Column] = {}
    for part in gb.parts():
        op, c = part.operation, part.input_column
        if op not in _TILE_OPS:
            raise NotImplementedError(f"{op} has no scalar mergeable IR (tile path)")
        if op in (Operation.SUM, Operation.AVERAGE):
            aggs.setdefault(f"sum_{c}", F.sum(c).alias(f"sum_{c}"))
            aggs.setdefault(f"count_{c}", F.count(c).alias(f"count_{c}"))
        elif op == Operation.COUNT:
            aggs.setdefault(f"count_{c}", F.count(c).alias(f"count_{c}"))
        elif op == Operation.MIN:
            aggs.setdefault(f"min_{c}", F.min(c).alias(f"min_{c}"))
        elif op == Operation.MAX:
            aggs.setdefault(f"max_{c}", F.max(c).alias(f"max_{c}"))
        elif op == Operation.FIRST:
            aggs.setdefault(f"first_{c}", F.min_by(c, F.col("__ts_ms")).alias(f"first_{c}"))
        elif op == Operation.LAST:
            aggs.setdefault(f"last_{c}", F.max_by(c, F.col("__ts_ms")).alias(f"last_{c}"))
        elif op == Operation.APPROX_UNIQUE_COUNT:
            aggs.setdefault(f"hll_{c}", F.hll_sketch_agg(c).alias(f"hll_{c}"))
    return list(aggs.values())


def merge_tile_sketches(tiles: DataFrame, gb: GroupBy) -> DataFrame:
    """Roll tile HLL sketches up to per-key estimates: hll_union_agg merges
    the binary IRs across tiles (the fetcher-side merge of the lambda
    architecture), hll_sketch_estimate finalizes."""
    sketch_cols = [c for c in tiles.columns if c.startswith("hll_")]
    if not sketch_cols:
        raise ValueError("no sketch columns in tiles")
    return tiles.groupBy(*gb.key_columns).agg(*[
        F.hll_sketch_estimate(F.hll_union_agg(c)).alias(f"{c}_estimate")
        for c in sketch_cols
    ])


def _prepared(df: DataFrame, gb: GroupBy, ts_col: str) -> DataFrame:
    selects = {}
    for s in gb.sources:
        selects.update(s.query.selects or {})
    cols = []
    for name in {*gb.key_columns, *(p.input_column for p in gb.parts())}:
        cols.append(F.expr(selects.get(name, name)).alias(name))
    from pyspark.sql import types as T

    from zipline_chronon_spark.operators import pit_join

    # shared time rule: a long ts column IS epoch millis (casting long ->
    # timestamp would read it as SECONDS and silently shift every tile)
    ts_dt = df.select(F.col(ts_col).alias("t")).schema[0].dataType
    ts_ms = pit_join._time_to_millis(F.col(ts_col), ts_dt)
    event_time = (F.timestamp_millis(ts_ms)
                  if isinstance(ts_dt, (T.LongType, T.IntegerType))
                  else F.col(ts_col).cast("timestamp"))
    return df.select(*cols, event_time.alias("__event_time"),
                     ts_ms.alias("__ts_ms"))


def hop_tiles_stream(
    stream_df: DataFrame,
    gb: GroupBy,
    hop: str = "5 minutes",
    ts_col: str = "ts",
    lateness: str = "10 minutes",
) -> DataFrame:
    """Streaming tiles: tumbling event-time windows of the tail-hop size with
    watermark-bounded state (late rows within ``lateness`` still merge into
    their tile; later ones are dropped and belong to the batch backfill)."""
    p = _prepared(stream_df, gb, ts_col).withWatermark("__event_time", lateness)
    return (
        p.groupBy(*gb.key_columns, F.window("__event_time", hop).alias("hop"))
        .agg(*tile_aggregates(gb))
        .select("*", F.unix_millis(F.col("hop.start")).alias("hop_start_ms"))
        .drop("hop")
    )


def hop_tiles_batch(df: DataFrame, gb: GroupBy, hop: str = "5 minutes",
                    ts_col: str = "ts") -> DataFrame:
    """The batch formulation of the same tiles (for parity tests and for
    the offline half of the lambda merge)."""
    p = _prepared(df, gb, ts_col)
    return (
        p.groupBy(*gb.key_columns, F.window("__event_time", hop).alias("hop"))
        .agg(*tile_aggregates(gb))
        .select("*", F.unix_millis(F.col("hop.start")).alias("hop_start_ms"))
        .drop("hop")
    )


def run_stream_to_parquet(
    stream_df: DataFrame,
    gb: GroupBy,
    out_path: str,
    checkpoint: str,
    hop: str = "5 minutes",
    ts_col: str = "ts",
    lateness: str = "10 minutes",
) -> None:
    """Drain all available input deterministically (availableNow trigger) —
    append mode emits each tile once its watermark passes."""
    tiles = hop_tiles_stream(stream_df, gb, hop, ts_col, lateness)
    q = (
        tiles.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
