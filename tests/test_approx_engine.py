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


def _arranged(monkeypatch):
    """Records the frame ``compute_group_by_approx`` sends into its one
    ``mapInArrow``: the shuffled, sorted events ∪ queries."""
    from zipline_chronon_spark.operators import pit_join

    seen = []
    real = pit_join.union_frame

    def spy(*a, **kw):
        out = real(*a, **kw)
        seen.append(out[0])
        return out

    monkeypatch.setattr(pit_join, "union_frame", spy)
    return seen


def _final_nodes(df):
    """Nodes of the executed (final adaptive) plan of ``df``."""
    df.write.format("noop").mode("overwrite").save()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        yield n
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def test_one_shuffle_frame(spark, events, count_jobs):
    """Building the serve starts no Spark job; its plan crosses into Python
    once, and every shuffle is keyed by the GroupBy keys (the serve's own
    and the key prefilter's ``distinct``)."""
    import re

    gb, q = _gb(), _queries(spark, events)
    df, jobs = count_jobs(lambda: compute_group_by_approx(
        spark, gb, q, row_id="__row_id", query_time_col="ts_ms"))
    assert jobs == 0
    names = [(n.nodeName(), n) for n in _final_nodes(df)]
    assert sum(nm == "MapInArrow" for nm, _ in names) == 1
    exchanges = [n.outputPartitioning().toString() for nm, n in names if nm == "Exchange"]
    assert exchanges
    for part in exchanges:
        m = re.fullmatch(r"hashpartitioning\((.*), \d+\)", part)
        assert m and [c.split("#")[0] for c in m.group(1).split(", ")] == ["k"], part


# Py4J calls of one warm build of the serve on this module's inputs: 456,
# plus 20%
PY4J_CAP = 547


def test_py4j_calls_of_building_the_serve(spark, events, monkeypatch):
    """Counts the calls the build makes, not the deletes of JVM objects
    that Python proxies garbage-collected meanwhile ("m" commands)."""
    from py4j.clientserver import ClientServerConnection

    gb, q = _gb(), _queries(spark, events)

    def build():
        return compute_group_by_approx(spark, gb, q, row_id="__row_id",
                                       query_time_col="ts_ms")

    build()  # warm: first-use JVM lookups are not the serve's
    calls = []
    real = ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith("m\n"):
            calls.append(1)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    build()
    monkeypatch.undo()
    assert 0 < len(calls) <= PY4J_CAP, len(calls)


def test_frame_is_events_plus_queries(spark, events, monkeypatch):
    """The shuffled frame holds one row per key-prefiltered event plus one
    per query — no tile rows and no per-query fan-out — so doubling the
    queries adds exactly the added query rows."""
    from pyspark.sql import functions as F

    gb = _gb()
    seen = _arranged(monkeypatch)
    q1 = _queries(spark, events, n=60)
    q2 = q1.unionByName(q1.withColumn("__row_id", F.col("__row_id") + 1000))
    for q in (q1, q2):
        compute_group_by_approx(spark, gb, q, row_id="__row_id", query_time_col="ts_ms")
    n1, n2 = seen[0].count(), seen[1].count()
    qkeys = {r["k"] for r in q1.select("k").distinct().collect()}
    n_ev = int(events["k"].isin(qkeys).sum())
    assert n1 == n_ev + 60
    assert n2 - n1 == 60


def test_unbounded_sketch_over_old_history(spark, events):
    """Queries far above every event: an unbounded sketch part runs its
    merge over the key's whole tile history and still equals the exact
    engine and the Fetcher."""
    from zipline_chronon_spark.online.fetcher import Fetcher, upload_batch_state
    from zipline_chronon_spark.online.kv import InMemoryKv

    gb = GroupBy(
        name="ax_old",
        sources=(EventSource(table="ax_events", query=Query(time_column="ts_ms")),),
        key_columns=("k",),
        aggregations=(
            Aggregation("cat", Operation.APPROX_UNIQUE_COUNT, windows=(None,)),
            Aggregation("iv", Operation.APPROX_FREQUENT_K, arg_map=(("k", "3"),),
                        windows=(None,)),
            Aggregation("v", Operation.APPROX_PERCENTILE,
                        arg_map=(("percentiles", "[0.5, 0.9]"),), windows=(None,)),
            Aggregation("big", Operation.SUM, windows=(None,)),
        ),
    )
    far = BASE + 30 * 86_400_000
    q = spark.createDataFrame(pd.DataFrame({
        "k": [*map(str, range(5)), "unseen"],
        "ts_ms": [far + i * 3_600_000 for i in range(6)],
        "__row_id": np.arange(6, dtype=np.int64),
    }))
    cols = [p.output_name for p in gb.parts()]
    got = _rows(compute_group_by_approx(spark, gb, q, row_id="__row_id",
                                        query_time_col="ts_ms"), cols)
    exact = _rows(compute_group_by(spark, gb, q, row_id="__row_id",
                                   query_time_col="ts_ms"), cols)
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, far)
    f = Fetcher(kv, gb)
    for g, e in zip(got, exact):
        online = f.fetch((["0", "1", "2", "3", "4", "unseen"][g["__row_id"]],),
                         at_ts_ms=far + g["__row_id"] * 3_600_000)
        for c in cols:
            if c == "v_approx_percentile":
                if e[c] is None:
                    assert g[c] is None and online[c] is None
                    continue
                np.testing.assert_allclose(g[c], e[c], atol=1e-9)
                np.testing.assert_allclose(g[c], online[c], atol=1e-9)
                continue
            assert _same(g[c], e[c]), (c, g["__row_id"], g[c], e[c])
            assert _same(g[c], online[c]), (c, g["__row_id"], g[c], online[c])
        assert g["cat_approx_unique_count"] is None or g["cat_approx_unique_count"] > 0


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
