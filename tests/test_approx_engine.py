"""Batch sketch engine (operators/approx_engine.py): per-(key, tile)
mergeable IRs + exact raw head events must (a) equal the EXACT batch engine
for scalar ops and for APPROX_* in the sketches' exact regimes, and
(b) equal the online Fetcher at any fetch point — same merge code, tested
anyway to pin the tile/head plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from zipline_chronon_spark.api import (Aggregation, EventSource, GroupBy, Operation,
                                       Query, TimeUnit, Window)
from zipline_chronon_spark.operators.approx_engine import compute_group_by_approx
from zipline_chronon_spark.operators.pit_join import compute_group_by

BASE = 1_700_000_000_000


@pytest.fixture(scope="module")
def events(spark):
    rng = np.random.default_rng(9)
    n = 4000
    pdf = pd.DataFrame({
        "k": rng.integers(0, 5, size=n).astype(str),
        "ts_ms": BASE + rng.integers(0, 2 * 86_400_000, size=n),
        "v": rng.normal(10, 3, size=n).round(3),
        "cat": [f"c{int(x)}" for x in rng.integers(0, 40, size=n)],
        # integer sketch input with ~10% nulls: must hash and print as
        # integers on every path (tiles, head events, online fetch)
        "iv": pd.array(np.where(rng.random(n) < 0.1, None,
                                rng.integers(0, 30, size=n)), dtype="Int64"),
        # per-key sums pass 2^53: a long SUM must stay exact
        "big": (1 << 50) + rng.integers(0, 1000, size=n),
    }).astype({"ts_ms": "int64", "big": "int64"})
    spark.createDataFrame(pdf).createOrReplaceTempView("ax_events")
    return pdf


def _gb():
    return GroupBy(
        name="ax",
        sources=(EventSource(table="ax_events", query=Query(time_column="ts_ms")),),
        key_columns=("k",),
        aggregations=(
            Aggregation("v", Operation.SUM, windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("v", Operation.COUNT, windows=(Window(6, TimeUnit.HOURS),)),
            Aggregation("v", Operation.MIN, windows=(Window(1, TimeUnit.DAYS),)),
            Aggregation("v", Operation.LAST, windows=(None,)),
            Aggregation("cat", Operation.APPROX_UNIQUE_COUNT,
                        windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("v", Operation.APPROX_PERCENTILE,
                        arg_map=(("percentiles", "[0.5, 0.9]"),), windows=(None,)),
            Aggregation("cat", Operation.APPROX_FREQUENT_K,
                        arg_map=(("k", "2"),), windows=(None,)),
            Aggregation("iv", Operation.APPROX_UNIQUE_COUNT,
                        windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("iv", Operation.APPROX_FREQUENT_K,
                        arg_map=(("k", "3"),), windows=(None,)),
            Aggregation("big", Operation.SUM, windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("cat", Operation.MAX, windows=(Window(1, TimeUnit.DAYS),)),
        ),
    )


# columns compared for EXACT equality with both the exact engine and the
# online Fetcher: integer sketch inputs with nulls, long sums past 2^53,
# and a string MAX
EXACT_COLS = ["iv_approx_unique_count", "iv_approx_unique_count_1d",
              "big_sum", "big_sum_1d", "cat_max_1d"]


def _rows(df, cols):
    """Rows by __row_id as Python values (toPandas would widen a long
    column with nulls to float64)."""
    return [r.asDict() for r in
            df.select("__row_id", *cols).orderBy("__row_id").collect()]


def _same(a, b) -> bool:
    na = a is None or (isinstance(a, float) and pd.isna(a))
    nb = b is None or (isinstance(b, float) and pd.isna(b))
    if na or nb:
        return na and nb
    if isinstance(a, (list, dict)) or isinstance(b, (list, dict)):
        return dict(a) == dict(b)
    return type(a) is type(b) and a == b


def _queries(spark, events, n=120):
    rng = np.random.default_rng(4)
    q = pd.DataFrame({
        "k": rng.choice([*map(str, range(5)), "unseen"], n),
        "ts_ms": BASE + rng.integers(3_600_000, 2 * 86_400_000, size=n),
        "__row_id": np.arange(n, dtype=np.int64),
    }).astype({"ts_ms": "int64"})
    return spark.createDataFrame(q)


def test_matches_exact_engine(spark, events):
    gb = _gb()
    q = _queries(spark, events)
    exact_df = compute_group_by(spark, gb, q, row_id="__row_id", query_time_col="ts_ms")
    approx_df = compute_group_by_approx(spark, gb, q, row_id="__row_id",
                                        query_time_col="ts_ms")
    exact = exact_df.toPandas().sort_values("__row_id").reset_index(drop=True)
    approx = approx_df.toPandas().sort_values("__row_id").reset_index(drop=True)
    assert len(exact) == len(approx) == 120
    scalar_cols = ["v_sum", "v_sum_1d", "v_count_6h", "v_min_1d", "v_last"]
    for c in scalar_cols:
        a, b = exact[c], approx[c]
        assert (a.isna() == b.isna()).all(), c
        np.testing.assert_allclose(a.dropna(), b.dropna(), rtol=1e-9, err_msg=c)
    # sketches: cardinalities here stay inside the sparse/exact-buffer
    # regimes, so values are EXACT equal (error-bound regime covered in
    # tests/test_sketches.py)
    for c in ["cat_approx_unique_count", "cat_approx_unique_count_1d"]:
        a, b = exact[c], approx[c]
        assert (a.isna() == b.isna()).all(), c
        assert (a.dropna() == b.dropna()).all(), c
    for i in range(len(exact)):
        e, g = exact["v_approx_percentile"][i], approx["v_approx_percentile"][i]
        if e is None or (isinstance(e, float) and pd.isna(e)):
            assert g is None or (isinstance(g, float) and pd.isna(g))
        else:
            np.testing.assert_allclose(list(e), list(g), atol=1e-9)
        ef, gf = exact["cat_approx_frequent_k"][i], approx["cat_approx_frequent_k"][i]
        if ef is None:
            assert gf is None
        else:
            assert dict(ef) == dict(gf), i
    cols = EXACT_COLS + ["iv_approx_frequent_k"]
    for e, g in zip(_rows(exact_df, cols), _rows(approx_df, cols)):
        for c in cols:
            assert _same(e[c], g[c]), (c, e["__row_id"], e[c], g[c])


def test_row_per_query_even_without_tiles_or_head(spark, events):
    """A query whose key HAS history but none inside any window (and no
    head-hop events) must still get a null-feature output row — same
    cardinality contract as the exact engine (round-3 advice: the old
    tile-join + inner head join silently dropped such rows)."""
    gb = GroupBy(
        name="ax_w",
        sources=(EventSource(table="ax_events", query=Query(time_column="ts_ms")),),
        key_columns=("k",),
        aggregations=(
            Aggregation("v", Operation.SUM, windows=(Window(1, TimeUnit.HOURS),)),
            Aggregation("v", Operation.COUNT, windows=(Window(6, TimeUnit.HOURS),)),
        ),
    )
    # T = 30 days after the last event: every window is empty for every key
    far = BASE + 32 * 86_400_000
    q = spark.createDataFrame(pd.DataFrame({
        "k": ["0", "1", "unseen"],
        "ts_ms": [far] * 3,
        "__row_id": np.arange(3, dtype=np.int64),
    }))
    got = (compute_group_by_approx(spark, gb, q, row_id="__row_id",
                                   query_time_col="ts_ms")
           .toPandas().sort_values("__row_id").reset_index(drop=True))
    assert len(got) == 3
    assert got["v_sum_1h"].isna().all() and got["v_count_6h"].isna().all()


def test_no_query_tile_fanout(spark, events):
    """The round-5 cogroup shape: each (key, tile) IR appears ONCE in the
    serving frame no matter how many queries hit it — shuffle volume is
    O(tiles + head_events + queries), NOT O(queries x tiles_per_window).
    Doubling the query count must leave the tile row count unchanged."""
    from zipline_chronon_spark.operators.approx_engine import _build_frames

    gb = GroupBy(
        name="ax_b",
        sources=(EventSource(table="ax_events", query=Query(time_column="ts_ms")),),
        key_columns=("k",),
        aggregations=(
            Aggregation("v", Operation.SUM, windows=(Window(6, TimeUnit.HOURS),)),
            Aggregation("v", Operation.COUNT, windows=(Window(1, TimeUnit.HOURS),)),
        ),
    )
    from pyspark.sql import functions as F
    q1 = _queries(spark, events, n=60)
    # same keys and times, double the rows: span and key set identical
    q2 = q1.unionByName(q1.withColumn("__row_id", F.col("__row_id") + 1000))
    n1 = _build_frames(spark, gb, q1, row_id="__row_id",
                       query_time_col="ts_ms")[0].where("__kind = 0").count()
    n2 = _build_frames(spark, gb, q2, row_id="__row_id",
                       query_time_col="ts_ms")[0].where("__kind = 0").count()
    dk = (spark.table("ax_events").select("k").distinct().count())
    span_tiles = 2 * 86_400_000 // 300_000 + 1  # 2-day data span at 5m hop
    assert n1 == n2  # tile rows independent of query count
    assert n2 <= dk * span_tiles  # bounded by (keys x span tiles)
    # tiles are unique per (key, tile): no duplication anywhere
    u = _build_frames(spark, gb, q2, row_id="__row_id",
                      query_time_col="ts_ms")[0]
    dup = (u.where("__kind = 0").groupBy("k", "__t").count()
           .where("count > 1").count())
    assert dup == 0


def test_old_history_collapses_to_one_row_per_key(spark, events):
    """With an unbounded part, events below the split land in ONE collapsed
    IR row per KEY total (kind=2) — not per query — so the serving frame is
    bounded by the query-time span, not history."""
    from zipline_chronon_spark.operators.approx_engine import _build_frames

    gb = _gb()  # has unbounded parts
    # queries late in the range: most history is below the split
    rng = np.random.default_rng(11)
    q = spark.createDataFrame(pd.DataFrame({
        "k": rng.choice([*map(str, range(5))], 40),
        "ts_ms": BASE + 2 * 86_400_000 - rng.integers(0, 3_600_000, size=40),
        "__row_id": np.arange(40, dtype=np.int64),
    }).astype({"ts_ms": "int64"}))
    union, _, _, _ = _build_frames(spark, gb, q, row_id="__row_id",
                                query_time_col="ts_ms")
    per_key = (union.where("__kind = 2").groupBy("k").count()
               .agg({"count": "max"}).collect()[0][0])
    total = union.where("__kind = 2").count()
    assert per_key == 1  # exactly one collapsed row per seen key
    assert total <= 5    # never one per query (40 queries over <=5 keys)


def test_no_iterrows_in_module():
    import inspect

    from zipline_chronon_spark.operators import approx_engine

    assert "iterrows" not in inspect.getsource(approx_engine)


def test_matches_online_fetcher(spark, events):
    from zipline_chronon_spark.online.fetcher import (Fetcher, upload_batch_state,
                                                      upload_stream_events)
    from zipline_chronon_spark.online.kv import InMemoryKv

    gb = _gb()
    t0 = ((BASE + 86_400_000) // 300_000) * 300_000
    t1 = t0 + 7 * 3_600_000
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, t0)
    upload_stream_events(kv, spark, gb, t0, t1)
    f = Fetcher(kv, gb)

    q = spark.createDataFrame(pd.DataFrame({
        "k": [str(i) for i in range(5)],
        "ts_ms": [t1] * 5,
        "__row_id": np.arange(5, dtype=np.int64),
    }))
    got_df = compute_group_by_approx(spark, gb, q, row_id="__row_id",
                                     query_time_col="ts_ms")
    got = got_df.toPandas().sort_values("__row_id").reset_index(drop=True)
    cols = EXACT_COLS + ["iv_approx_frequent_k"]
    got_rows = _rows(got_df, cols)
    for i in range(5):
        online = f.fetch((str(i),), at_ts_ms=t1)
        for nm in cols:
            assert _same(got_rows[i][nm], online[nm]), (i, nm, got_rows[i][nm], online[nm])
        for nm, val in online.items():
            g = got[nm][i]
            if val is None:
                assert g is None or (isinstance(g, float) and pd.isna(g)), (i, nm)
            elif isinstance(val, float):
                assert abs(g - val) < 1e-6, (i, nm)
            elif isinstance(val, list) and val and isinstance(val[0], tuple):
                assert dict(g) == dict(val), (i, nm)
            elif isinstance(val, list):
                np.testing.assert_allclose(list(g), val, atol=1e-9)
            else:
                assert g == val, (i, nm)
