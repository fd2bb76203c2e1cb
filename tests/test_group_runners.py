"""The sorted-group runners — PIT union and self-enrichment, temporal
entities, the approx serve and the sketch tile build — re-chunk Arrow
batches on group boundaries through ``arrow_engine.whole_groups``. Their
output must not depend on the Arrow batch size, and their plans must cross
the Python boundary as Arrow (``MapInArrow``), never as pandas."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.test_entities_temporal import _gen_cdc
from zipline_chronon_spark.api import (Aggregation, EntitySource, EventSource, GroupBy,
                                       Operation, Query, TimeUnit, Window)
from zipline_chronon_spark.online import fetcher as fl
from zipline_chronon_spark.online.kv import InMemoryKv
from zipline_chronon_spark.operators.approx_engine import compute_group_by_approx
from zipline_chronon_spark.operators.entities_temporal import compute_entities_temporal
from zipline_chronon_spark.operators.pit_join import (ROW_ID, compute_group_by,
                                                      compute_group_by_self)

BASE = 1_700_000_000_000
DAY = 86_400_000
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def events(spark):
    rng = np.random.default_rng(17)
    n = 240  # 12 keys x ~20 rows: every group spans several 3-row batches
    pdf = pd.DataFrame({
        "k": rng.integers(0, 12, size=n).astype(str),
        "ts_ms": BASE + rng.integers(0, 2 * DAY, size=n),
        "v": rng.normal(10, 3, size=n).round(3),
        "cat": [f"c{int(x)}" for x in rng.integers(0, 12, size=n)],
        "eid": np.arange(n),
        # list and map inputs, with null rows, elements and items
        "vl": [None if i % 9 == 0 else
               [None if (i + j) % 5 == 0 else round(float(x) * 0.7, 3)
                for j, x in enumerate(rng.normal(5, 2, size=i % 4))] for i in range(n)],
        "m": [None if i % 7 == 0 else
              {f"m{i % 3}": round(float(i) / 3, 3), "z": None if i % 4 == 0 else i * 0.1}
              for i in range(n)],
    }).astype({"ts_ms": "int64", "eid": "int64"})
    spark.createDataFrame(
        pdf, "k string, ts_ms long, v double, cat string, eid long, "
             "vl array<double>, m map<string,double>").createOrReplaceTempView("gr_events")
    return pdf


@pytest.fixture(scope="module")
def queries(spark, events):
    rng = np.random.default_rng(18)
    n = 60
    return spark.createDataFrame(pd.DataFrame({
        "k": rng.choice([*map(str, range(12)), "unseen"], n),
        "ts_ms": BASE + rng.integers(3_600_000, 2 * DAY, size=n),
        ROW_ID: np.arange(n, dtype=np.int64),
    }).astype({"ts_ms": "int64"}))


@pytest.fixture(scope="module")
def cdc(spark, tmp_path_factory):
    snap_pdf, mut_pdf = _gen_cdc(seed=21, n_keys=6, n_days=3, muts_per_day=24)
    base = tmp_path_factory.mktemp("gr_cdc")
    spark.createDataFrame(snap_pdf).write.parquet(str(base / "snap"))
    spark.createDataFrame(mut_pdf).write.parquet(str(base / "mut"))
    return str(base)


def _gb(aggs):
    return GroupBy(
        name="gr",
        sources=(EventSource(table="gr_events", query=Query(time_column="ts_ms")),),
        key_columns=("k",),
        aggregations=aggs,
    )


W1D = Window(1, TimeUnit.DAYS)
EXACT = _gb((
    Aggregation("v", Operation.SUM, windows=(None, W1D)),
    Aggregation("v", Operation.AVERAGE, windows=(Window(6, TimeUnit.HOURS),)),
    Aggregation("v", Operation.LAST_K, arg_map=(("k", "3"),), windows=(None,)),
    Aggregation("cat", Operation.HISTOGRAM, windows=(W1D,)),
    Aggregation("vl", Operation.AVERAGE, windows=(W1D,)),
    Aggregation("m", Operation.SUM, windows=(None,)),
    Aggregation("v", Operation.VARIANCE, windows=(W1D,), buckets=("cat",)),
))
SKETCH = _gb((
    Aggregation("v", Operation.SUM, windows=(None, W1D)),
    Aggregation("v", Operation.LAST, windows=(None,)),
    Aggregation("cat", Operation.APPROX_UNIQUE_COUNT, windows=(None, W1D)),
    Aggregation("v", Operation.APPROX_PERCENTILE,
                arg_map=(("percentiles", "[0.5]"),), windows=(W1D,)),
))


def _frames(spark, queries, cdc):
    """Name -> DataFrame of every sorted-group runner."""
    ent = GroupBy(
        name="gr_ent",
        sources=(EntitySource(snapshot_table=f"{cdc}/snap", mutation_table=f"{cdc}/mut",
                              query=Query(time_column="ts_ms",
                                          selects={"key": "key", "value": "value / 7"})),),
        key_columns=("key",),
        aggregations=(Aggregation("value", Operation.SUM, windows=(None, W1D)),
                      Aggregation("value", Operation.HISTOGRAM, windows=(W1D,))),
    )
    rng = np.random.default_rng(22)
    ent_q = spark.createDataFrame(pd.DataFrame({
        "key": rng.integers(0, 6, size=40),
        "qts": (20_501 + rng.integers(0, 2, size=40)) * DAY + rng.integers(0, DAY, size=40),
        ROW_ID: np.arange(40, dtype=np.int64),
    }))
    return {
        "pit_union": compute_group_by(spark, EXACT, queries, query_time_col="ts_ms"),
        "pit_self": compute_group_by_self(spark, EXACT, "eid"),
        "entities_temporal": compute_entities_temporal(spark, ent, ent_q,
                                                       query_time_col="qts"),
        "approx_serve": compute_group_by_approx(spark, SKETCH, queries,
                                                query_time_col="ts_ms"),
        "tile_build": fl._ir_rows(fl._events(spark, SKETCH, None, BASE + 2 * DAY),
                                  SKETCH, tile_hop=3_600_000),
    }


def _sorted(df):
    by = [ROW_ID] if ROW_ID in df.columns else ["k", "__tile"]
    return df.toPandas().sort_values(by).reset_index(drop=True)


def _upload(spark):
    kv = InMemoryKv()
    fl.upload_batch_state(kv, spark, SKETCH, BASE + DAY + 7 * 3_600_000)
    return kv.data


def test_output_independent_of_arrow_batch_size(spark, queries, cdc):
    default = {n: _sorted(df) for n, df in _frames(spark, queries, cdc).items()}
    default_kv = _upload(spark)
    prev = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "3")
    try:
        small = {n: _sorted(df) for n, df in _frames(spark, queries, cdc).items()}
        small_kv = _upload(spark)
    finally:
        spark.conf.set(BATCH_CONF, prev)
    for name, pdf in default.items():
        assert len(pdf), name
        pd.testing.assert_frame_equal(small[name], pdf, check_exact=True, obj=name)
    assert small_kv == default_kv


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_group_runners_cross_as_arrow(spark, queries, cdc):
    for name, df in _frames(spark, queries, cdc).items():
        plan = _plan(df)
        assert "MapInArrow" in plan, name
        assert "MapInPandas" not in plan, f"{name}:\n{plan}"
