"""Online mutation path for temporal entities (online/entity_serving.py):
EntityFetcher.fetch(key, T) over batch snapshot state + streamed CDC
mutations must equal compute_entities_temporal at the same T — including
true reversals (before-images) for SUM/COUNT/AVERAGE. (Reference:
streaming/GroupBy.scala:90-143 entity decode;
SawtoothMutationAggregator.scala:28-228.)"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.test_entities_temporal import MS_DAY, BASE_DAY, W1D, _gen_cdc
from zipline_chronon_spark.api import (Aggregation, EntitySource, GroupBy,
                                       Operation, Query, TimeUnit, Window)
from zipline_chronon_spark.online.entity_serving import (
    EntityFetcher,
    upload_entity_batch_state,
    upload_mutation_events,
)
from zipline_chronon_spark.online.kv import InMemoryKv
from zipline_chronon_spark.operators.entities_temporal import compute_entities_temporal


@pytest.fixture(scope="module")
def cdc(spark, tmp_path_factory):
    snap_pdf, mut_pdf = _gen_cdc(seed=7, n_keys=5, n_days=4, muts_per_day=10)
    base = tmp_path_factory.mktemp("tes")
    spark.createDataFrame(snap_pdf).write.mode("overwrite").parquet(str(base / "snap"))
    spark.createDataFrame(mut_pdf).write.mode("overwrite").parquet(str(base / "mut"))
    return snap_pdf, mut_pdf, str(base / "snap"), str(base / "mut")


def _gb(snap, mut):
    return GroupBy(
        name="tes",
        sources=(EntitySource(
            snapshot_table=snap, mutation_table=mut,
            query=Query(time_column="ts_ms"),
        ),),
        key_columns=("key",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(None, W1D)),
            Aggregation("value", Operation.COUNT, windows=(None, W1D)),
            Aggregation("value", Operation.AVERAGE, windows=(None,)),
        ),
    )


def test_entity_fetch_equals_batch_replay(spark, cdc):
    snap_pdf, mut_pdf, snap, mut = cdc
    gb = _gb(snap, mut)
    # serve day d (the third day): batch state = snapshot d-1
    d = BASE_DAY + 2
    ds = pd.Timestamp(d * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    T1 = d * MS_DAY + 17 * 3_600_000 + 123_456  # mid-day, not hop-aligned

    kv = InMemoryKv()
    n = upload_entity_batch_state(kv, spark, gb, ds)
    assert n > 0
    n_mut = upload_mutation_events(kv, spark, gb, d * MS_DAY - 1, T1)
    assert n_mut > 0

    f = EntityFetcher(kv, gb)
    keys = sorted({int(k) for k in snap_pdf["key"]} | {int(k) for k in mut_pdf["key"]})
    q = spark.createDataFrame(pd.DataFrame({
        "key": keys, "ts_ms": np.int64(T1),
        "__row_id": np.arange(len(keys), dtype=np.int64)}))
    offline = (compute_entities_temporal(spark, gb, q, row_id="__row_id",
                                         query_time_col="ts_ms")
               .toPandas().sort_values("__row_id").reset_index(drop=True))
    for i, key in enumerate(keys):
        got = f.fetch((key,), at_ts_ms=T1)
        for col in ["value_sum", "value_sum_1d", "value_count",
                    "value_count_1d", "value_average"]:
            e = offline[col][i]
            g = got[col]
            if e is None or (isinstance(e, float) and pd.isna(e)):
                assert g is None, (key, col, g)
            else:
                assert abs(float(g) - float(e)) < 1e-9, (key, col, g, e)


def test_reversals_actually_reverse(spark, cdc):
    """The feed contains before-images (generator emits updates+deletes);
    serving must NOT equal an insert-only replay."""
    snap_pdf, mut_pdf, snap, mut = cdc
    d = BASE_DAY + 2
    day_muts = mut_pdf[(mut_pdf["mutation_ts"] >= d * MS_DAY)
                       & (mut_pdf["mutation_ts"] < (d + 1) * MS_DAY)]
    assert day_muts["is_before"].any()  # fixture sanity
    gb = _gb(snap, mut)
    ds = pd.Timestamp(d * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    T1 = (d + 1) * MS_DAY - 1
    kv = InMemoryKv()
    upload_entity_batch_state(kv, spark, gb, ds)
    upload_mutation_events(kv, spark, gb, d * MS_DAY - 1, T1)
    f = EntityFetcher(kv, gb)
    # for at least one key the signed result differs from ignoring signs
    diffs = 0
    for key in sorted({int(k) for k in mut_pdf["key"]}):
        kb_muts = day_muts[day_muts["key"] == key]
        if not kb_muts["is_before"].any():
            continue
        got = f.fetch((key,), at_ts_ms=T1)
        naive = (kb_muts["value"].sum()
                 + snap_pdf[(snap_pdf["ds"] == pd.Timestamp((d - 1) * MS_DAY, unit="ms")
                             .strftime("%Y-%m-%d"))
                            & (snap_pdf["key"] == key)]["value"].sum())
        if got["value_sum"] is None or abs(got["value_sum"] - naive) > 1e-9:
            diffs += 1
    assert diffs > 0


def test_insert_only_guard(spark, cdc):
    """Non-deletable ops + a feed with reversals -> named error unless the
    caller opts in (same contract as the batch tier)."""
    snap_pdf, mut_pdf, snap, mut = cdc
    gb = GroupBy(
        name="tes_g",
        sources=(EntitySource(snapshot_table=snap, mutation_table=mut,
                              query=Query(time_column="ts_ms")),),
        key_columns=("key",),
        aggregations=(Aggregation("value", Operation.MAX, windows=(None,)),),
    )
    d = BASE_DAY + 2
    ds = pd.Timestamp(d * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    T1 = (d + 1) * MS_DAY - 1
    kv = InMemoryKv()
    upload_entity_batch_state(kv, spark, gb, ds)
    upload_mutation_events(kv, spark, gb, d * MS_DAY - 1, T1)
    # a key whose before-image is inside the uploaded+replayed range
    rev = mut_pdf[mut_pdf["is_before"]
                  & (mut_pdf["mutation_ts"] >= d * MS_DAY)
                  & (mut_pdf["mutation_ts"] < T1)]
    assert len(rev), "fixture must contain a day-d before-image"
    key = int(rev["key"].iloc[0])
    with pytest.raises(ValueError, match="before-images"):
        EntityFetcher(kv, gb).fetch((key,), at_ts_ms=T1)
    got = EntityFetcher(kv, gb, allow_insert_only=True).fetch((key,), at_ts_ms=T1)
    assert "value_max" in got


def test_mutation_decode_stream(spark, tmp_path):
    """decode_mutation_events: JSON CDC bytes -> typed rows with __sign,
    drained through a file stream == the raw frame (batch parity)."""
    import json

    from pyspark.sql import types as T

    from zipline_chronon_spark.streaming.sources import decode_mutation_events

    rows = [
        {"key": 1, "value": 10.0, "ts_ms": 1000, "mutation_ts": 1000, "is_before": False},
        {"key": 1, "value": 10.0, "ts_ms": 1000, "mutation_ts": 2000, "is_before": True},
        {"key": 2, "value": 7.0, "ts_ms": 1500, "mutation_ts": 1500, "is_before": False},
    ]
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType([
        T.StructField("key", T.LongType()), T.StructField("value", T.DoubleType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("mutation_ts", T.LongType()),
        T.StructField("is_before", T.BooleanType()),
    ])
    raw = (spark.readStream.format("text")
           .schema(T.StructType([T.StructField("value", T.StringType())]))
           .load(str(src_dir)))
    decoded = decode_mutation_events(raw, schema, ts_col="ts_ms")
    out_dir, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = (decoded.writeStream.format("parquet").outputMode("append")
         .option("path", out_dir).option("checkpointLocation", cp).start())
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out_dir).orderBy("mutation_ts").toPandas()
    assert list(got["__sign"]) == [1, 1, -1]  # mts order: 1000, 1500, 2000
    assert got["__event_time"].notna().all()
    # schema sanity: missing mutation columns raise a named error
    import pytest as _pt

    bad = T.StructType([T.StructField("key", T.LongType()),
                        T.StructField("ts_ms", T.LongType())])
    with _pt.raises(ValueError, match="mutation_ts"):
        decode_mutation_events(raw, bad, ts_col="ts_ms")


def test_time_travel_before_batch_day_raises(spark, cdc):
    """A fetch with at_ts_ms EARLIER than the uploaded batch day must
    raise (round-4 advice): batch snapshot tiles are not bounded by T at
    merge time, so serving such a fetch would silently over-count snapshot
    rows with ts > T. Same assumption as the reference fetcher
    (T >= batchEnd)."""
    snap_pdf, mut_pdf, snap, mut = cdc
    gb = _gb(snap, mut)
    d = BASE_DAY + 2
    ds = pd.Timestamp(d * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    kv = InMemoryKv()
    upload_entity_batch_state(kv, spark, gb, ds)
    f = EntityFetcher(kv, gb)
    assert f.batch_day_ms is not None
    # one time row: the batch day is bulk_load's batch_end_ms
    assert sorted(kv.data[f"{gb.name}__meta"]) == [b"batch_end_ms", b"tile_floor"]
    key0 = snap_pdf["key"].iloc[0]
    key0 = key0.item() if hasattr(key0, "item") else key0
    with pytest.raises(ValueError, match="precedes the uploaded batch day"):
        f.fetch((key0,), at_ts_ms=f.batch_day_ms - 1)
    # at exactly the batch day it serves
    got = f.fetch((key0,), at_ts_ms=f.batch_day_ms)
    assert isinstance(got, dict)


def test_entity_fetch_batch_parity(spark, cdc):
    """EntityFetcher.fetch_batch == per-key fetch, incl. the time-travel
    guard."""
    snap_pdf, mut_pdf, snap, mut = cdc
    gb = _gb(snap, mut)
    d = BASE_DAY + 2
    ds = pd.Timestamp(d * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    T1 = d * MS_DAY + 17 * 3_600_000 + 123_456
    kv = InMemoryKv()
    upload_entity_batch_state(kv, spark, gb, ds)
    upload_mutation_events(kv, spark, gb, d * MS_DAY - 1, T1)
    f = EntityFetcher(kv, gb)
    keys = sorted({k.item() if hasattr(k, "item") else k
                   for k in snap_pdf["key"]})
    batch = f.fetch_batch([(k,) for k in keys], at_ts_ms=T1)
    for k, got in zip(keys, batch):
        one = f.fetch((k,), at_ts_ms=T1)
        assert got == one or all(
            (a := got[c]) == (b := one[c])
            or (isinstance(a, float) and abs(a - b) < 1e-12) for c in one), k
    with pytest.raises(ValueError, match="precedes the uploaded batch day"):
        f.fetch_batch([(keys[0],)], at_ts_ms=f.batch_day_ms - 1)
