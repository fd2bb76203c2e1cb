"""Focused tests for the round-6 optimization internals: each pins an
equivalence that a performance rewrite relied on."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def test_sorted_quantiles_matches_np_quantile_bitwise():
    """_sorted_quantiles is the exact-regime KLL finalize fast lane; it must
    reproduce np.quantile(method='linear') bit-for-bit on sorted input."""
    from zipline_chronon_spark.operators.approx_engine import _sorted_quantiles

    rng = np.random.default_rng(7)
    for trial in range(500):
        m = int(rng.integers(1, 120))
        v = np.sort(rng.normal(size=m) * (10.0 ** float(rng.integers(-3, 6))))
        qs = sorted(rng.uniform(0, 1, size=int(rng.integers(1, 4))).tolist())
        if trial % 5 == 0:
            qs = [0.0, 0.5, 0.95, 1.0]
        expect = [float(x) for x in np.quantile(v, qs)]
        got = _sorted_quantiles(v, qs)
        assert got == expect, (m, qs)
    assert all(np.isnan(x) for x in _sorted_quantiles(np.empty(0), [0.5, 0.9]))


def test_serve_sketches_builds_one_tile_set_per_sketch_class(monkeypatch):
    """Windows and finalize arguments never change a tile: both
    APPROX_UNIQUE_COUNT windows of one column share one HLL tile set, and
    APPROX_FREQUENT_K / APPROX_HEAVY_HITTERS_K of another share one
    Misra-Gries set. Sharing must not change an answer: each part served
    alone (building its own tiles) gives the same column."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from zipline_chronon_spark.api import (Aggregation, EventSource, GroupBy,
                                           Operation, Query, TimeUnit, Window)
    from zipline_chronon_spark.online import fetcher as fl
    from zipline_chronon_spark.operators import approx_engine, pit_join
    from zipline_chronon_spark.operators.arrow_engine import _columns

    gb = GroupBy(
        name="s",
        sources=(EventSource(table="t", query=Query(time_column="ts")),),
        key_columns=("k",),
        aggregations=(
            Aggregation("e", Operation.APPROX_UNIQUE_COUNT,
                        windows=(Window(1, TimeUnit.DAYS), None)),
            Aggregation("c", Operation.APPROX_FREQUENT_K,
                        arg_map=(("k", "2"),), windows=(None,)),
            Aggregation("c", Operation.APPROX_HEAVY_HITTERS_K,
                        arg_map=(("k", "2"),), windows=(None,)),
        ),
    )
    parts = gb.parts()
    rng = np.random.default_rng(5)
    n_ev, n_q, base = 600, 60, 1_700_000_000_000
    k = np.r_[rng.integers(0, 3, n_ev), rng.integers(0, 3, n_q)]
    ts = base + rng.integers(0, 3 * 86_400_000, n_ev + n_q)
    side = np.r_[np.zeros(n_ev, np.int64), np.ones(n_q, np.int64)]
    e = [int(x) for x in rng.integers(0, 50, n_ev)] + [None] * n_q
    c = [f"c{int(x)}" for x in rng.zipf(1.5, n_ev) % 20] + [None] * n_q
    order = np.lexsort((side, ts, k))
    tbl = pa.table({
        "k": pa.array([str(x) for x in k[order]]),
        pit_join.TS_COL: pa.array(ts[order], type=pa.int64()),
        pit_join.SIDE_COL: pa.array(side[order], type=pa.int64()),
        "e": pa.array([e[i] for i in order], type=pa.int64()),
        "c": pa.array([c[i] for i in order], type=pa.string()),
    })
    gid = k[order].astype(np.int64)
    _, out_schema = pit_join._output_schema(
        gb, {"k": T.StringType(), "e": T.LongType(), "c": T.StringType()}, [])
    arrow_schema = to_arrow_schema(out_schema)
    hop = fl._tile_hop(gb)

    builds = []
    build = fl.group_sketches
    monkeypatch.setattr(fl, "group_sketches",
                        lambda op, col, starts: builds.append(op) or build(op, col, starts))
    got = approx_engine._serve_sketches(_columns(tbl), gid, parts, hop, arrow_schema)
    assert len(builds) == 2
    assert sum(v is not None for v in got[0].to_pylist()) > 0
    for p, col in zip(parts, got):
        (alone,) = approx_engine._serve_sketches(_columns(tbl), gid, [p], hop, arrow_schema)
        assert col.to_pylist() == alone.to_pylist(), p.output_name


def test_bucket_pairs_matches_self_join(spark):
    """The higher-order pair expansion must emit exactly the (a < b) pairs
    of the old band self-join, including the max_bucket cap."""
    from zipline_chronon_spark.operators.dedup import _bucket_pairs

    rng = np.random.default_rng(3)
    rows = [(int(rng.integers(0, 12)), int(i)) for i in range(200)]
    bands = spark.createDataFrame(pd.DataFrame(rows, columns=["band_key", "id"]))
    for cap in (None, 20):
        grouped = bands.groupBy("band_key").agg(
            F.sort_array(F.collect_list("id")).alias("__ids"))
        got = {(r[0], r[1]) for r in _bucket_pairs(grouped, cap).collect()}
        b = bands
        if cap is not None:
            hot = (b.groupBy("band_key").count().where(F.col("count") > cap)
                   .select("band_key"))
            b = b.join(hot, "band_key", "left_anti")
        a2, b2 = b.alias("a"), b.alias("b")
        exp = {(r[0], r[1]) for r in a2.join(
            b2, (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id"), F.col("b.id")).distinct().collect()}
        assert got == exp and len(got) > 0


def test_join_part_fusion_matches_unfused(spark):
    """compute_join fusing two compatible TEMPORAL parts must equal the
    per-part computation (column names, order and values)."""
    import pandas as pdd

    from zipline_chronon_spark.api import (Aggregation, EventSource, GroupBy,
                                           Join, JoinPart, Operation, Query,
                                           TimeUnit, Window)
    from zipline_chronon_spark.operators.join import compute_join

    rng = np.random.default_rng(5)
    n = 400
    pdf = pdd.DataFrame({
        "k": rng.integers(0, 20, size=n),
        "ts": 1_700_000_000_000 + rng.integers(0, 5 * 86_400_000, size=n),
        "v": np.round(rng.normal(size=n) * 10, 3),
        "rid": np.arange(n, dtype=np.int64),
    })
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("r06_fusion_events")
    src = EventSource(table="r06_fusion_events",
                      query=Query(selects={"k": "k", "v": "v", "rid": "rid"},
                                  time_column="ts"))
    W1 = Window(1, TimeUnit.DAYS)
    gb_a = GroupBy(name="ga", sources=(src,), key_columns=("k",),
                   aggregations=(Aggregation("v", Operation.COUNT, windows=(W1,)),
                                 Aggregation("v", Operation.SUM, windows=(W1,))),
                   tie_breaker_column="rid")
    gb_b = GroupBy(name="gb", sources=(src,), key_columns=("k",),
                   aggregations=(Aggregation("v", Operation.LAST, windows=(W1,)),),
                   tie_breaker_column="rid")

    def run(parts):
        j = Join(name="j", left=src, parts=parts, row_ids=("rid",))
        out = compute_join(spark, j)
        return out.orderBy("rid").toPandas()

    fused = run((JoinPart(gb_a), JoinPart(gb_b, prefix="p")))
    # incompatible tie-breakers block fusion -> the unfused path
    import dataclasses
    gb_b2 = dataclasses.replace(gb_b, tie_breaker_column=None)
    unfused = run((JoinPart(gb_a), JoinPart(gb_b2, prefix="p")))
    assert list(fused.columns) == list(unfused.columns)
    for c in fused.columns:
        a, b = fused[c].tolist(), unfused[c].tolist()
        assert a == pytest.approx(b, nan_ok=True), c
