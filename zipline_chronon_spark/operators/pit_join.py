"""Point-in-time (as-of) windowed aggregation — the engine core.

Architecture = the reference's skew-free "UnionJoin" plan
(spark/src/main/scala/ai/chronon/spark/join/UnionJoin.scala:26-238, README
claims 9x vs the legacy cogroup path), re-expressed Spark-first and then
vectorized one level further than the reference:

    events ∪ queries --one hash shuffle--> repartition(keys)
        --JVM Tungsten sort--> sortWithinPartitions(keys, ts, tie)
        --Arrow--> mapInArrow(chunks of MANY whole groups, arrow_engine)
        --numpy--> cross-group vectorized kernels

The reference aggregates group-at-a-time (mapPartitions over collect_list
rows). Group-at-a-time pandas (groupBy().applyInPandas) pays per-group
Python overhead that dominates when groups are small (millions of short
conversations). Instead we process chunks containing thousands of complete
groups and vectorize ACROSS groups by encoding (group, ts) into one int64:

    enc = (gid << 44) | (ts - chunk_base_ms)     # 30 days ≈ 2^31 ms << 2^44

Because chunks arrive sorted by (keys, ts, tie), ``enc`` is sorted, group
ranges never overlap, and a single ``searchsorted`` resolves the sawtooth
window bounds for every query of every group at once. The one op dispatch
(arrow_engine._finish: prefix sums, RMQ, segment finishes) then runs on the
concatenated arrays unchanged — a window [lo, hi) can never cross a group
boundary.

Scale notes (100 TB design point):
 - one hash shuffle, partitioned by key; hot keys are bounded-lookback and
   can be time-slice salted (salt module);
 - Tungsten does the sort (spillable, codegen) — Python never sorts;
 - group-boundary rechunking (arrow_engine.whole_groups) keeps peak
   memory at O(arrow batch + largest single group);
 - scans carry only keys + ts + aggregation inputs (column pruning), with
   filters pushed down (render_source is fully declarative).
"""

from __future__ import annotations

import os
import weakref
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zipline_chronon_spark.api import AggregationPart, EventSource, GroupBy, Operation
from zipline_chronon_spark.operators.arrow_engine import make_arrow_runner

TS_COL = "__ts"  # epoch millis long (Constants.scala:24 — time is always epoch ms)
SIDE_COL = "__isq"  # 0 = event, 1 = query row, 2 = both (self-enrichment)
ROW_ID = "__row_id"
TIE_COL = "__tie"

_LONG_INPUTS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)


def _widen(dt: T.DataType) -> T.DataType:
    """Numeric widening per ColumnAggregator.scala:209-441 (Int/Short/Bool ->
    Long, Float/Decimal -> Double)."""
    if isinstance(dt, _LONG_INPUTS):
        return T.LongType()
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return T.DoubleType()
    return dt


def output_field(part: AggregationPart, input_type: T.DataType) -> T.StructField:
    op = part.operation
    # input-shape dispatch (ColumnAggregator.scala:225-246): vector input
    # auto-explodes to elements; map input aggregates per map key and wraps
    # the output in map<string, out>
    map_input = isinstance(input_type, T.MapType)
    if map_input:
        if part.bucket is not None:
            raise NotImplementedError("bucketing a map-typed input column")
        input_type = input_type.valueType
    if isinstance(input_type, T.ArrayType):
        input_type = input_type.elementType
    if op in (Operation.COUNT, Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT):
        out: T.DataType = T.LongType()
    elif op == Operation.SUM:
        out = _widen(input_type)
    elif op in (Operation.AVERAGE, Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS):
        out = T.DoubleType()
    elif op in (Operation.MIN, Operation.MAX, Operation.FIRST, Operation.LAST):
        out = input_type
    elif op in (Operation.LAST_K, Operation.FIRST_K, Operation.TOP_K, Operation.BOTTOM_K,
                Operation.UNIQUE_TOP_K):
        out = T.ArrayType(input_type)
    elif op in (Operation.HISTOGRAM, Operation.APPROX_FREQUENT_K, Operation.APPROX_HEAVY_HITTERS_K):
        out = T.MapType(T.StringType(), T.LongType())
    elif op == Operation.APPROX_PERCENTILE:
        out = T.ArrayType(T.DoubleType())
    else:
        raise NotImplementedError(f"operation {op}")
    if part.bucket is not None or map_input:
        out = T.MapType(T.StringType(), out)
    return T.StructField(part.output_name, out, True)


# per session: local parquet path -> (its file listing, the schema Spark
# inferred for it)
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _listing(path: str) -> tuple:
    """(relative name, size, mtime_ns) of every file under ``path``."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out.append((os.path.relpath(os.path.join(root, f), path),
                        st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _read_table(spark: SparkSession, table: str) -> DataFrame:
    """A path reads as parquet, anything else as a catalog table. Inferring
    a parquet schema starts a Spark job to read footers, so for a local
    path the inferred schema is kept per session together with the path's
    file listing, and handed back while the listing is unchanged."""
    if "/" not in table:
        return spark.table(table)
    local = table[len("file:"):] if table.startswith("file:") else table
    if "://" in table or not os.path.exists(local):
        return spark.read.parquet(table)
    listing, path = _listing(local), os.path.abspath(local)
    known = _SCHEMAS.setdefault(spark, {})
    if path in known and known[path][0] == listing:
        return spark.read.schema(known[path][1]).parquet(table)
    df = spark.read.parquet(table)
    known[path] = (listing, df.schema)
    return df


def _time_to_millis(col: F.Column, dt: T.DataType) -> F.Column:
    if isinstance(dt, T.TimestampNTZType):
        # session TZ is UTC (session.py) so NTZ == UTC instant
        return F.unix_millis(col.cast("timestamp"))
    if isinstance(dt, T.TimestampType):
        return F.unix_millis(col)
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return col.cast("long")
    raise TypeError(f"unsupported time column type {dt}")


def render_model_transform(spark: SparkSession, mt) -> DataFrame:
    """ModelTransforms (api.thrift:606-617): scan the inner source, run
    each model's vectorized transform over Arrow batches (mapInPandas —
    the real-deployment shape wraps an ONNX/torch session in the same
    callable), emit passthrough fields + model output columns. The
    wrapper's own Query (time/wheres) is applied by render_source on the
    enriched rows, so model outputs can be filtered/timestamped on."""
    assert len(mt.sources) == 1, "ModelTransforms v1 supports one inner source"
    (inner,) = mt.sources
    df = _read_table(spark, inner.table)
    for w in inner.query.wheres:
        df = df.where(w)
    if inner.query.selects:
        df = df.select(*[F.expr(e).alias(n)
                         for n, e in inner.query.selects.items()])
    return apply_models(df, mt)


def apply_models(df: DataFrame, mt) -> DataFrame:
    """Model enrichment over Arrow batches. Works UNCHANGED on a streaming
    DataFrame (mapInPandas is supported in Structured Streaming), so the
    online enrichment path runs the exact same callables as the batch
    backfill — no train/serve skew by construction.

    The engine's one ``mapInPandas``: the public model contract is
    ``model.transform(pandas.DataFrame)``, so a ``mapInArrow`` here would
    only move the pandas conversion inside the call."""
    passthrough = list(mt.passthrough_fields) or list(df.columns)
    from pyspark.sql.types import _parse_datatype_string

    fields = [df.schema[c] for c in passthrough]
    for m in mt.models:
        types = m.output_types or ("double",) * len(m.output_columns)
        for c, t in zip(m.output_columns, types):
            fields.append(T.StructField(c, _parse_datatype_string(t), True))
    out_schema = T.StructType(fields)
    models = list(mt.models)

    def run(batches):
        for pdf in batches:
            out = pdf[passthrough].copy()
            for m in models:
                res = m.transform(pdf)
                for c in m.output_columns:
                    out[c] = res[c].to_numpy() if hasattr(res[c], "to_numpy") else res[c]
            yield out

    return df.mapInPandas(run, schema=out_schema)


def _join_in_range(spark: SparkSession, src, time_range_ms) -> "Join":
    """A JoinSource's upstream join with ``time_range_ms`` applied to its
    left, when the source's time column is the left's own time column. A
    left row's features never depend on another left row and the right
    sides keep their full history, so no feature changes; a chunked
    backfill then computes only its chunk's rows of the upstream join."""
    join = src.join
    lq = join.left.query
    tc = src.query.time_column
    if (time_range_ms is None or tc != lq.time_column
            or (lq.selects and lq.selects.get(tc) != tc)):
        return join
    import dataclasses

    dt = _read_table(spark, join.left.table).select(F.expr(tc)).schema[0].dataType
    if isinstance(dt, T.TimestampNTZType):
        ms = f"unix_millis(CAST(({tc}) AS TIMESTAMP))"
    elif isinstance(dt, T.TimestampType):
        ms = f"unix_millis({tc})"
    else:
        ms = f"CAST(({tc}) AS BIGINT)"
    lo, hi = time_range_ms
    wheres = [*([f"{ms} >= {int(lo)}"] if lo is not None else []),
              *([f"{ms} <= {int(hi)}"] if hi is not None else [])]
    left = dataclasses.replace(join.left, query=dataclasses.replace(
        lq, wheres=(*lq.wheres, *wheres)))
    return dataclasses.replace(join, left=left)


def render_source(
    spark: SparkSession,
    src: EventSource,
    key_columns: tuple[str, ...],
    input_columns: list[str],
    tie_breaker: Optional[str] = None,
    time_range_ms: Optional[tuple[Optional[int], Optional[int]]] = None,
    extra_selects: Optional[dict[str, str]] = None,
) -> DataFrame:
    """Scan → where → selectExpr → normalized epoch-millis TS_COL.

    Declarative so Catalyst pushes the filters/pruning to the parquet scan
    (reference analogue: TableUtils.scanDf, catalog/TableUtils.scala:689-772
    + QueryUtils.build, api/.../QueryUtils.scala:25-66).
    """
    for stmt in src.query.setups:
        spark.sql(stmt)
    from zipline_chronon_spark.api import JoinSource, ModelTransforms

    if isinstance(src, JoinSource):
        # feature chaining: materialize the upstream join's logical plan
        # (api.thrift:186-189; streaming/JoinSourceRunner is the online twin)
        from zipline_chronon_spark.operators.join import compute_join

        df = compute_join(spark, _join_in_range(spark, src, time_range_ms))
    elif isinstance(src, ModelTransforms):
        # model-enriched source (api.thrift:606-617): underlying rows plus
        # each model's output columns, computed inline as Arrow-batched
        # vectorized inference (mapInPandas) — usable anywhere a source is
        df = render_model_transform(spark, src)
    else:
        df = _read_table(spark, src.table)
        if getattr(src, "is_cumulative", False):
            # cumulative tables: every ds partition is the full history up
            # to that day — scan ONLY the latest partition or aggregates
            # double-count (GroupBy.scala:759-764 SourceDataProfile
            # latestValid). The max-partition lookup is one scalar over the
            # partition column (directory-listing metadata for partitioned
            # parquet; a catalog.list_partitions call for warehouse tables).
            pcol = src.partition_column
            if pcol not in df.columns:
                raise ValueError(
                    f"cumulative source '{src.table}' has no partition "
                    f"column '{pcol}' — cannot pick the latest partition")
            latest = df.agg(F.max(F.col(pcol))).collect()[0][0]
            if latest is None:
                raise ValueError(
                    f"cumulative source '{src.table}' has no partitions")
            df = df.where(F.col(pcol) == F.lit(latest))
    for w in src.query.wheres:
        df = df.where(w)
    time_expr = F.expr(src.query.time_column)
    time_dt = df.select(time_expr.alias("t")).schema[0].dataType
    ts_ms = _time_to_millis(time_expr, time_dt)
    if time_range_ms is not None:
        lo, hi = time_range_ms
        if lo is not None:
            df = df.where(ts_ms >= F.lit(lo))
        if hi is not None:
            df = df.where(ts_ms <= F.lit(hi))
    sel: list[F.Column] = []
    selects = src.query.selects
    seen: set[str] = set()
    for name in [*key_columns, *input_columns, *([tie_breaker] if tie_breaker else [])]:
        if name in seen or name is None:
            continue
        seen.add(name)
        expr = (selects or {}).get(name, name)
        sel.append(F.expr(expr).alias(name))
    for name, expr in (extra_selects or {}).items():
        sel.append(F.expr(expr).alias(name))
    return df.select(*sel, ts_ms.alias(TS_COL))


def _input_columns(gb: GroupBy) -> list[str]:
    cols: list[str] = []
    for p in gb.parts():
        for c in (p.input_column, p.bucket):
            if c and c not in cols:
                cols.append(c)
    return cols


def events_df(
    spark: SparkSession,
    gb: GroupBy,
    time_range_ms: Optional[tuple[Optional[int], Optional[int]]] = None,
    extra_selects: Optional[dict[str, str]] = None,
) -> DataFrame:
    """Union of all rendered sources (GroupBy.scala:624-669 union semantics),
    rows with all-null keys dropped (GroupBy.scala:640-642)."""
    cols = _input_columns(gb)
    dfs = [
        render_source(spark, s, gb.key_columns, cols, gb.tie_breaker_column,
                      time_range_ms, extra_selects)
        for s in gb.sources
    ]
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other)
    not_all_null = None
    for k in gb.key_columns:
        c = F.col(k).isNotNull()
        not_all_null = c if not_all_null is None else (not_all_null | c)
    return df.where(not_all_null).where(F.col(TS_COL).isNotNull())


def _output_schema(gb: GroupBy, ev_schema: dict, passthrough_fields: list[T.StructField]):
    parts = gb.parts()
    fields = [T.StructField(ROW_ID, T.LongType(), False), *passthrough_fields]
    for p in parts:
        fields.append(output_field(p, ev_schema[p.input_column]))
    return parts, T.StructType(fields)


def union_frame(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    row_id: str = ROW_ID,
    key_mapping: Optional[dict[str, str]] = None,
    query_time_col: str = "ts",
    num_partitions: Optional[int] = None,
    semi_filter: str = "semi_join",
    time_range_ms: Optional[tuple[Optional[int], Optional[int]]] = None,
    passthrough_cols: Optional[list[str]] = None,
) -> tuple[DataFrame, list[AggregationPart], T.StructType]:
    """The frame step of both union runners (``compute_group_by`` and
    ``approx_engine.compute_group_by_approx``): the key-prefiltered events
    (SIDE_COL 0) ∪ the queries (SIDE_COL 1), hash-partitioned on the
    GroupBy keys and sorted on (keys, TS_COL, TIE_COL), ready for one
    ``mapInArrow``. Returns (arranged, parts, output schema); the
    parameters are ``compute_group_by``'s."""
    # key_mapping maps left column -> right key (api.thrift:384-386)
    key_mapping = key_mapping or {}
    passthrough_cols = passthrough_cols or []
    right_keys = list(gb.key_columns)
    inv = {r: l for l, r in key_mapping.items()}
    left_cols = {rk: inv.get(rk, rk) for rk in right_keys}

    # time_range_ms bounds the RIGHT scan (chunked backfills pass
    # [chunk_lo - max_window, chunk_hi) so each chunk reads only the events
    # its windows can see — GroupBy.scala:741-788 getIntersectedRange)
    ev = events_df(spark, gb, time_range_ms=time_range_ms)
    ev_schema = dict(zip(ev.schema.names, [f.dataType for f in ev.schema.fields]))

    q_time_dt = queries.select(F.expr(query_time_col).alias("t")).schema[0].dataType
    q = queries.select(
        *[F.col(left_cols[rk]).alias(rk) for rk in right_keys],
        _time_to_millis(F.expr(query_time_col), q_time_dt).alias(TS_COL),
        F.col(row_id).alias(ROW_ID),
        *[F.col(c) for c in passthrough_cols
          if c not in set(right_keys) | {ROW_ID, TS_COL}],
    )
    if semi_filter == "semi_join":
        ev = ev.join(F.broadcast(q.select(*right_keys).distinct()), right_keys, "left_semi")
    elif semi_filter == "in_list":
        # "small mode" (TableUtils.scala:55-57, JoinUtils.scala:234-285):
        # inline the left's key values as an IN-list literal so the filter
        # reaches parquet/Iceberg scan STATISTICS (row-group skipping),
        # which a runtime semi-join cannot do. Caller asserts the left is
        # small (reference cutoff: 5000 rows).
        kvals = [r[0] for r in q.select(right_keys[0]).distinct().limit(5001).collect()]
        if len(kvals) > 5000:
            raise ValueError("in_list semi_filter needs <= 5000 distinct left keys")
        ev = ev.where(F.col(right_keys[0]).isin(kvals))
        if len(right_keys) > 1:
            ev = ev.join(F.broadcast(q.select(*right_keys).distinct()), right_keys, "left_semi")

    tie = gb.tie_breaker_column
    # NOTE: no nulls in ROW_ID/TIE_COL — a null would make Arrow hand pandas
    # a float64 column and 64-bit row ids (e.g. xxhash64) lose precision
    # above 2^53. Events carry a dummy 0 row id instead.
    ev_u = ev.withColumn(SIDE_COL, F.lit(0)).withColumn(ROW_ID, F.lit(0).cast("long"))
    if tie:
        ev_u = ev_u.withColumn(TIE_COL, F.coalesce(F.col(tie).cast("long"), F.lit(0)))
    else:
        ev_u = ev_u.withColumn(TIE_COL, F.lit(0).cast("long"))
    q_u = q.withColumn(SIDE_COL, F.lit(1)).withColumn(TIE_COL, F.lit(0).cast("long"))
    union = ev_u.unionByName(q_u, allowMissingColumns=True)

    u_schema = {f.name: f.dataType for f in union.schema.fields}
    pt_fields = [T.StructField(c, u_schema[c], True) for c in passthrough_cols]
    parts, out_schema = _output_schema(gb, ev_schema, pt_fields)

    shuffled = union.repartition(num_partitions, *right_keys) if num_partitions else (
        union.repartition(*right_keys))
    return shuffled.sortWithinPartitions(*right_keys, TS_COL, TIE_COL), parts, out_schema


def compute_group_by(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    row_id: str = ROW_ID,
    key_mapping: Optional[dict[str, str]] = None,
    query_time_col: str = "ts",
    num_partitions: Optional[int] = None,
    semi_filter: str = "semi_join",
    time_range_ms: Optional[tuple[Optional[int], Optional[int]]] = None,
    passthrough_cols: Optional[list[str]] = None,
) -> DataFrame:
    """Enrich each query row (keys…, ts) with gb's features as of its ts.

    queries: DataFrame with the (left-named) key columns, a time column, and
    a unique long ``row_id`` column. Returns (row_id, feature columns…).

    semi_filter: prune the events scan to keys present on the left — the
    reference's bloom/IN-list semi-join reduction (Extensions.scala:177-220,
    JoinUtils.scala:234-285). "semi_join" = broadcast left-semi join on the
    left's distinct keys (AQE decides the physical strategy); "in_list" =
    small mode, literal IN pushdown into scan statistics (left must have
    <= 5000 distinct keys); "off" = scan everything (right when the left
    covers most keys anyway).

    passthrough_cols: extra ``queries`` columns carried through the engine
    onto the matching output row — saves the caller a join back on row_id
    when it only needs query attributes next to the features (the snapshot
    paths below use it; same idea as compute_group_by_self's passthrough).
    """
    from zipline_chronon_spark.api import Accuracy
    from zipline_chronon_spark.operators.derive import apply_derivations

    passthrough_cols = passthrough_cols or []
    arranged, parts, out_schema = union_frame(
        spark, gb, queries, row_id, key_mapping, query_time_col, num_partitions,
        semi_filter, time_range_ms, passthrough_cols)
    snap = gb.accuracy == Accuracy.SNAPSHOT
    runner = make_arrow_runner(parts, list(gb.key_columns), out_schema,
                               passthrough_cols, None, snap, TS_COL, SIDE_COL, ROW_ID)
    out = arranged.mapInArrow(runner, schema=out_schema)
    return apply_derivations(out, gb.derivations,
                             always_keep=[ROW_ID, *passthrough_cols])


SALT_COL = "__salt"


def compute_group_by_self(
    spark: SparkSession,
    gb: GroupBy,
    row_id_expr: str,
    passthrough: Optional[dict[str, str]] = None,
    num_partitions: Optional[int] = None,
    time_range_ms: Optional[tuple[Optional[int], Optional[int]]] = None,
    query_range_ms: Optional[tuple[int, int]] = None,
    salt_slice_ms: Optional[int] = None,
    hot_keys: Optional[list] = None,
    hot_key_threshold: Optional[int] = None,
) -> DataFrame:
    """Self-enrichment fast path: every event row is also a query at its own
    ts (the transcript-backfill shape: each turn gets its conversation's
    point-in-time features). One scan, one shuffle — no union.

    row_id_expr: SQL expression over the source producing a unique int64.
    passthrough: extra output columns {name: SQL expr over the source}.

    Hot-key time-slice salting (north-rule skew splitting; the reference
    only *excludes* skew keys, JoinUtils.scala:331-383 — splitting is legal
    here because window lookback is bounded):
      salt_slice_ms + (hot_keys | hot_key_threshold) splits each hot key's
      timeline into slices; every query lands in its home slice, and each
      event is replicated into the slices it can still influence
      (ts .. ts + maxWindow + maxTailHop). Replication factor =
      1 + ceil((maxW + hop) / slice). Requires all windows bounded.
    """
    passthrough = passthrough or {}
    already = set(gb.key_columns) | set(_input_columns(gb)) | (
        {gb.tie_breaker_column} if gb.tie_breaker_column else set())
    extra = {ROW_ID: row_id_expr,
             **{n: e for n, e in passthrough.items() if n not in already}}
    ev = events_df(spark, gb, time_range_ms=time_range_ms, extra_selects=extra)
    ev_schema = dict(zip(ev.schema.names, [f.dataType for f in ev.schema.fields]))

    tie = gb.tie_breaker_column
    if tie:
        ev = ev.withColumn(TIE_COL, F.coalesce(F.col(tie).cast("long"), F.lit(0)))
    else:
        ev = ev.withColumn(TIE_COL, F.lit(0).cast("long"))
    ev = ev.withColumn(SIDE_COL, F.lit(2))

    right_keys = list(gb.key_columns)
    group_keys = list(right_keys)

    if salt_slice_ms is not None:
        max_w = gb.max_window_millis()
        if max_w is None:
            raise ValueError(
                "time-slice salting requires all windows bounded "
                "(an unbounded window needs the whole key history)")
        max_hop = max(p.window.tail_hop_millis() for p in gb.parts())
        slack = max_w + max_hop
        if hot_keys is None:
            if hot_key_threshold is None:
                raise ValueError("pass hot_keys or hot_key_threshold with salt_slice_ms")
            hot_keys = [
                r[0] for r in ev.groupBy(*right_keys).count()
                .where(F.col("count") > hot_key_threshold).select(*right_keys).collect()
            ]
        home = (F.col(TS_COL) / F.lit(salt_slice_ms)).cast("long")
        if hot_keys:
            is_hot = F.col(right_keys[0]).isin(list(hot_keys)) if len(right_keys) == 1 else (
                F.struct(*right_keys).isin(list(hot_keys)))
            cold = ev.where(~is_hot).withColumn(SALT_COL, F.lit(0).cast("long"))
            last_slice = ((F.col(TS_COL) + F.lit(slack)) / F.lit(salt_slice_ms)).cast("long")
            hot = (
                ev.where(is_hot)
                .withColumn(SALT_COL, F.explode(F.sequence(home, last_slice)))
                # replicas beyond the home slice are events only (no output row)
                .withColumn(SIDE_COL, F.when(F.col(SALT_COL) == home, F.lit(2)).otherwise(F.lit(0)))
                .withColumn(ROW_ID, F.when(F.col(SALT_COL) == home, F.col(ROW_ID)).otherwise(F.lit(0)))
            )
            ev = cold.unionByName(hot)
        else:
            ev = ev.withColumn(SALT_COL, F.lit(0).cast("long"))
        group_keys = right_keys + [SALT_COL]

    pt_fields = [T.StructField(n, ev_schema[n], True) for n in passthrough]
    parts, out_schema = _output_schema(gb, ev_schema, pt_fields)

    shuffled = ev.repartition(num_partitions, *group_keys) if num_partitions else (
        ev.repartition(*group_keys))
    arranged = shuffled.sortWithinPartitions(*group_keys, TS_COL, TIE_COL)
    from zipline_chronon_spark.api import Accuracy
    from zipline_chronon_spark.operators.derive import apply_derivations

    snap = gb.accuracy == Accuracy.SNAPSHOT
    runner = make_arrow_runner(parts, group_keys, out_schema,
                               list(passthrough), query_range_ms, snap,
                               TS_COL, SIDE_COL, ROW_ID)
    out = arranged.mapInArrow(runner, schema=out_schema)
    return apply_derivations(out, gb.derivations, always_keep=[ROW_ID, *passthrough])


def compute_snapshot(
    spark: SparkSession,
    gb: GroupBy,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """SNAPSHOT (daily) accuracy backfill: one output row per (key, ds) for
    every day each key has events, features computed over d calendar days
    ending at end-of-day(ds) (GroupBy.snapshotEvents, GroupBy.scala:164-191;
    golden SQL GroupByTest.scala:105-118)."""
    import dataclasses

    from zipline_chronon_spark.api import Accuracy

    gb_snap = dataclasses.replace(gb, accuracy=Accuracy.SNAPSHOT)
    ev = events_df(spark, gb_snap)
    day = (F.col(TS_COL) / F.lit(86_400_000)).cast("long")
    q = (
        ev.select(*gb.key_columns, day.alias("__day"))
        .distinct()
        .select(
            *gb.key_columns,
            F.date_format((F.col("__day") * 86_400_000 / 1000).cast("timestamp"),
                          "yyyy-MM-dd").alias("ds"),
            (F.col("__day") * 86_400_000 + 86_399_999).alias("__q_ts"),
            F.xxhash64(*gb.key_columns, F.col("__day")).alias(ROW_ID),
        )
    )
    # keys + ds ride the engine as passthrough — no join back on ROW_ID
    feats = compute_group_by(
        spark, gb_snap, q, row_id=ROW_ID, query_time_col="__q_ts",
        num_partitions=num_partitions,
        passthrough_cols=[*gb.key_columns, "ds"],
    )
    return feats.drop(ROW_ID)


def compute_entity_snapshot(
    spark: SparkSession,
    gb: GroupBy,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """ENTITIES × SNAPSHOT: every ds partition of the snapshot table is a
    full copy of the mutable dimension, aggregated independently per key;
    windowed parts measure against that partition's end-of-day
    (GroupBy.snapshotEntities, GroupBy.scala:115-162; updateWindowed with
    partitionTs + spanMillis :967-971). Mutation replay (temporal entities)
    is out of v1 scope.

    gb.sources must hold exactly one EntitySource. Returns one row per
    (key, ds) with the usual feature columns.
    """
    import dataclasses

    from zipline_chronon_spark.api import Accuracy, EntitySource, EventSource

    (src,) = gb.sources
    assert isinstance(src, EntitySource), "compute_entity_snapshot needs an EntitySource"
    selects = dict(src.query.selects or {})
    selects.setdefault("__ds", src.partition_column)
    ev_src = EventSource(
        table=src.snapshot_table,
        query=dataclasses.replace(src.query, selects=selects),
    )
    gb2 = dataclasses.replace(
        gb,
        sources=(ev_src,),
        key_columns=(*gb.key_columns, "__ds"),
        accuracy=Accuracy.SNAPSHOT,
    )
    base = _read_table(spark, src.snapshot_table)
    for w in src.query.wheres:
        base = base.where(w)
    key_exprs = [
        F.expr((src.query.selects or {}).get(k, k)).alias(k) for k in gb.key_columns
    ]
    q = (
        base.select(*key_exprs, F.expr(src.partition_column).alias("__ds"))
        .distinct()
        .withColumn(
            "__q_ts",
            F.unix_millis(F.to_timestamp("__ds", "yyyy-MM-dd")) + F.lit(86_399_999),
        )
        .withColumn(ROW_ID, F.xxhash64(*gb.key_columns, "__ds"))
    )
    # keys (incl. the __ds partition key) ride as passthrough — no join back
    feats = compute_group_by(
        spark, gb2, q, row_id=ROW_ID, query_time_col="__q_ts",
        num_partitions=num_partitions,
        passthrough_cols=[*gb.key_columns, "__ds"],
    )
    return feats.drop(ROW_ID).withColumnRenamed("__ds", "ds")


def compute_key_states(
    spark: SparkSession,
    gb: GroupBy,
    at_ts_ms: int,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Per-key feature state as of one batch-end timestamp — the offline
    half of the reference's GroupByUpload (GroupByUpload.scala:112-300):
    one row per key with every feature evaluated at ``at_ts_ms``. Combined
    with streaming hop tiles (streaming/hop_stream.py) this is the lambda
    architecture's batch upload; we emit finalized values rather than Avro
    IRs since the KV/fetcher tier is out of scope."""
    ev = events_df(spark, gb, time_range_ms=(None, at_ts_ms))
    q = (
        ev.select(*gb.key_columns).distinct()
        .withColumn("__q_ts", F.lit(at_ts_ms).cast("long"))
        .withColumn(ROW_ID, F.xxhash64(*gb.key_columns))
    )
    feats = compute_group_by(
        spark, gb, q, row_id=ROW_ID, query_time_col="__q_ts",
        num_partitions=num_partitions, passthrough_cols=list(gb.key_columns),
    )
    return feats.drop(ROW_ID)
