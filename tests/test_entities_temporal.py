"""Temporal entities (snapshot + mutation replay) vs a literal-rule oracle.

The oracle implements the reference's rule row by row (GroupBy.scala:193-342
+ SawtoothMutationAggregator.updateIr:120-139): snapshot of partition d-1
with row.ts >= round(T-w, hop), plus day-d mutations with mutation_ts < T
and (unwindowed or round(T-w,hop) <= row.ts < T), before-images subtract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from zipline_chronon_spark.api import (
    Aggregation,
    EntitySource,
    EventSource,
    GroupBy,
    Operation,
    Query,
    TimeUnit,
    Window,
)
from zipline_chronon_spark.operators import entities_temporal as et
from zipline_chronon_spark.operators.arrow_engine import group_starts
from zipline_chronon_spark.operators.entities_temporal import compute_entities_temporal
from zipline_chronon_spark.operators.pit_join import ROW_ID, TS_COL, compute_group_by, output_field

MS_DAY = 86_400_000
BASE_DAY = 20_500  # epoch days
W1D = Window(1, TimeUnit.DAYS)


def _gen_cdc(seed: int = 5, n_keys: int = 6, n_days: int = 4, muts_per_day: int = 8):
    """Consistent (snapshot, mutation) tables: state evolves by inserts /
    value-updates / deletes; snapshot(d) = rows visible at eod(d)."""
    rng = np.random.default_rng(seed)
    next_row_id = 0
    state: dict[int, tuple[int, float, int]] = {}  # row_id -> (key, value, ts)
    mutations = []
    snapshots = []
    for day in range(BASE_DAY, BASE_DAY + n_days):
        day_ms = day * MS_DAY
        for _ in range(muts_per_day):
            mut_ts = day_ms + int(rng.integers(0, MS_DAY))
            action = rng.choice(["insert", "update", "delete"], p=[0.5, 0.3, 0.2])
            if action == "insert" or not state:
                key = int(rng.integers(0, n_keys))
                val = float(rng.integers(1, 100))
                state[next_row_id] = (key, val, mut_ts)
                mutations.append((key, val, mut_ts, mut_ts, False))
                next_row_id += 1
            else:
                rid = int(rng.choice(list(state)))
                key, old_val, row_ts = state[rid]
                mutations.append((key, old_val, row_ts, mut_ts, True))  # before-image
                if action == "update":
                    new_val = float(rng.integers(1, 100))
                    state[rid] = (key, new_val, row_ts)
                    mutations.append((key, new_val, row_ts, mut_ts, False))
                else:
                    del state[rid]
        ds = pd.Timestamp(day * MS_DAY, unit="ms").strftime("%Y-%m-%d")
        for key, val, row_ts in state.values():
            snapshots.append((ds, key, val, row_ts))
    mut_pdf = pd.DataFrame(mutations, columns=["key", "value", "ts_ms", "mutation_ts", "is_before"])
    snap_pdf = pd.DataFrame(snapshots, columns=["ds", "key", "value", "ts_ms"])
    return snap_pdf, mut_pdf


def _oracle(snap_pdf, mut_pdf, key, T, window):
    day = T // MS_DAY
    prev_ds = pd.Timestamp((day - 1) * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    hop = window.tail_hop_millis() if window else None
    tail = ((T - window.millis) // hop) * hop if window else None
    snap = snap_pdf[(snap_pdf["ds"] == prev_ds) & (snap_pdf["key"] == key)]
    if window:
        snap = snap[snap["ts_ms"] >= tail]
    total, cnt = float(snap["value"].sum()), len(snap)
    muts = mut_pdf[(mut_pdf["key"] == key)
                   & (mut_pdf["mutation_ts"] >= day * MS_DAY)
                   & (mut_pdf["mutation_ts"] < T)]
    if window is not None:
        muts = muts[(muts["ts_ms"] >= tail) & (muts["ts_ms"] < T)]
    else:
        muts = muts[muts["ts_ms"] < T]
    for _, m in muts.iterrows():
        if m["is_before"]:
            total -= m["value"]
            cnt -= 1
        else:
            total += m["value"]
            cnt += 1
    if cnt <= 0:
        return None, None, None
    return total, cnt, total / cnt


def test_temporal_entities_vs_oracle(spark, tmp_path_factory):
    snap_pdf, mut_pdf = _gen_cdc()
    base = tmp_path_factory.mktemp("tent")
    spark.createDataFrame(snap_pdf).write.mode("overwrite").parquet(str(base / "snap"))
    spark.createDataFrame(mut_pdf).write.mode("overwrite").parquet(str(base / "mut"))

    gb = GroupBy(
        name="balance",
        sources=(EntitySource(
            snapshot_table=str(base / "snap"),
            mutation_table=str(base / "mut"),
            query=Query(time_column="ts_ms"),
        ),),
        key_columns=("key",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(None, W1D)),
            Aggregation("value", Operation.COUNT, windows=(None,)),
            Aggregation("value", Operation.AVERAGE, windows=(W1D,)),
        ),
    )
    # query points: random times on days 1.. (day 0 has no previous snapshot)
    rng = np.random.default_rng(9)
    qrows = []
    for i in range(200):
        day = BASE_DAY + 1 + int(rng.integers(0, 3))
        qrows.append((int(rng.integers(0, 6)), day * MS_DAY + int(rng.integers(0, MS_DAY)), i))
    q_pdf = pd.DataFrame(qrows, columns=["key", "qts", "qid"])
    q = spark.createDataFrame(q_pdf).withColumn("__row_id", F.col("qid").cast("long"))

    got = compute_entities_temporal(spark, gb, q, row_id="__row_id", query_time_col="qts")
    res = got.toPandas().sort_values("__row_id").reset_index(drop=True)
    assert len(res) == len(q_pdf)

    bad = []
    for _, r in res.iterrows():
        qr = q_pdf[q_pdf["qid"] == r["__row_id"]].iloc[0]
        e_sum, e_cnt, _ = _oracle(snap_pdf, mut_pdf, qr["key"], qr["qts"], None)
        w_sum, w_cnt, w_avg = _oracle(snap_pdf, mut_pdf, qr["key"], qr["qts"], W1D)

        def ok(a, b):
            if a is None or (isinstance(a, float) and a != a):
                return b is None
            return abs(float(a) - float(b)) < 1e-6

        if not (ok(r["value_sum"], e_sum) and ok(r["value_count"], e_cnt)
                and ok(r["value_sum_1d"], w_sum) and ok(r["value_average_1d"], w_avg)):
            bad.append((int(r["__row_id"]), dict(r), (e_sum, e_cnt, w_sum, w_avg)))
    assert not bad, f"{len(bad)} mismatches, first: {bad[:2]}"


def _insert_only_rows(snap_pdf, mut_pdf, key, T, window):
    """Literal rule for the insert-only tier: snapshot rows of d-1 in window
    + AFTER-image mutations with mutation_ts < T, ts in window and ts < T;
    before-images ignored (reference delete throws for non-deletable ops).
    Returns rows sorted by ts, equal ts in arrival order (snapshot rows
    first, then mutations by mutation_ts)."""
    day = T // MS_DAY
    prev_ds = pd.Timestamp((day - 1) * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    hop = window.tail_hop_millis() if window else None
    tail = ((T - window.millis) // hop) * hop if window else None
    snap = snap_pdf[(snap_pdf["ds"] == prev_ds) & (snap_pdf["key"] == key)]
    if window:
        snap = snap[snap["ts_ms"] >= tail]
    muts = mut_pdf[(mut_pdf["key"] == key) & (~mut_pdf["is_before"])
                   & (mut_pdf["mutation_ts"] >= day * MS_DAY)
                   & (mut_pdf["mutation_ts"] < T) & (mut_pdf["ts_ms"] < T)]
    if window is not None:
        muts = muts[muts["ts_ms"] >= tail]
    rows = pd.concat([snap[["value", "ts_ms"]].assign(mutation_ts=-1),
                      muts[["value", "ts_ms", "mutation_ts"]]])
    return rows.sort_values(["ts_ms", "mutation_ts"], kind="stable")


def test_insert_only_ops_vs_oracle(spark, tmp_path_factory):
    """The insert-only ops over mutations — every ``_finish`` branch that
    reads the per-query group encoding among them: FIRST, LAST over equal-ts
    rows, unbounded UNIQUE_COUNT, VARIANCE, TOP_K, MAX over strings — plus
    HISTOGRAM and a bucketed SUM with true reversals."""
    snap_pdf, mut_pdf = _gen_cdc(seed=11)
    base = tmp_path_factory.mktemp("tent2")
    spark.createDataFrame(snap_pdf).write.mode("overwrite").parquet(str(base / "snap"))
    spark.createDataFrame(mut_pdf).write.mode("overwrite").parquet(str(base / "mut"))

    gb = GroupBy(
        name="nd",
        sources=(EntitySource(
            snapshot_table=str(base / "snap"),
            mutation_table=str(base / "mut"),
            query=Query(time_column="ts_ms",
                        selects={"key": "key", "value": "value",
                                 "cat": "CASE WHEN value % 2 = 0 THEN 'e' ELSE 'o' END",
                                 "sv": "CAST(value AS STRING)"}),
        ),),
        key_columns=("key",),
        aggregations=(
            Aggregation("value", Operation.MIN, windows=(W1D,)),
            Aggregation("value", Operation.LAST_K, arg_map=(("k", "2"),), windows=(None,)),
            Aggregation("value", Operation.HISTOGRAM, windows=(W1D,)),
            Aggregation("value", Operation.SUM, windows=(W1D,), buckets=("cat",)),
            Aggregation("value", Operation.FIRST, windows=(W1D,)),
            Aggregation("value", Operation.LAST, windows=(None,)),
            Aggregation("value", Operation.UNIQUE_COUNT, windows=(None,)),
            Aggregation("value", Operation.VARIANCE, windows=(W1D,)),
            Aggregation("value", Operation.TOP_K, arg_map=(("k", "2"),), windows=(None,)),
            Aggregation("sv", Operation.MAX, windows=(W1D,)),
        ),
    )
    rng = np.random.default_rng(3)
    qrows = [(int(rng.integers(0, 6)),
              (BASE_DAY + 1 + int(rng.integers(0, 3))) * MS_DAY + int(rng.integers(0, MS_DAY)),
              i) for i in range(150)]
    q_pdf = pd.DataFrame(qrows, columns=["key", "qts", "qid"])
    q = spark.createDataFrame(q_pdf).withColumn("__row_id", F.col("qid").cast("long"))

    # the feed has reversals and MIN/LAST_K are insert-only: without the
    # explicit opt-in the engine must refuse (reference throws in delete)
    with pytest.raises(ValueError, match="insert-only"):
        compute_entities_temporal(spark, gb, q, row_id="__row_id",
                                  query_time_col="qts")

    got = compute_entities_temporal(spark, gb, q, row_id="__row_id",
                                    query_time_col="qts", allow_insert_only=True)
    res = got.toPandas().sort_values("__row_id").reset_index(drop=True)
    assert len(res) == len(q_pdf)

    bad = []
    last_ties = 0
    for _, r in res.iterrows():
        qr = q_pdf[q_pdf["qid"] == r["__row_id"]].iloc[0]
        key, T = qr["key"], qr["qts"]
        rows_w = _insert_only_rows(snap_pdf, mut_pdf, key, T, W1D)
        rows_u = _insert_only_rows(snap_pdf, mut_pdf, key, T, None)
        e_min = None if rows_w.empty else float(rows_w["value"].min())
        e_last2 = None if rows_u.empty else rows_u["value"].tolist()[::-1][:2]
        e_first = None if rows_w.empty else float(rows_w["value"].iloc[0])
        # LAST: the max-ts row that arrived first (strict ``<`` in Last.update)
        at_max = rows_u[rows_u["ts_ms"] == rows_u["ts_ms"].max()]
        last_ties += len(at_max) > 1
        e_last = None if rows_u.empty else float(at_max["value"].iloc[0])
        e_uniq = None if rows_u.empty else rows_u["value"].nunique()
        e_var = None if rows_w.empty else float(np.var(rows_w["value"]))
        e_top2 = None if rows_u.empty else sorted(rows_u["value"], reverse=True)[:2]
        e_smax = None if rows_w.empty else max(str(v) for v in rows_w["value"])
        # histogram with reversals: signed counts, <=0 dropped
        day = T // MS_DAY
        prev_ds = pd.Timestamp((day - 1) * MS_DAY, unit="ms").strftime("%Y-%m-%d")
        hop = W1D.tail_hop_millis()
        tail = ((T - W1D.millis) // hop) * hop
        hsnap = snap_pdf[(snap_pdf["ds"] == prev_ds) & (snap_pdf["key"] == key)
                         & (snap_pdf["ts_ms"] >= tail)]
        hmut = mut_pdf[(mut_pdf["key"] == key)
                       & (mut_pdf["mutation_ts"] >= day * MS_DAY)
                       & (mut_pdf["mutation_ts"] < T)
                       & (mut_pdf["ts_ms"] >= tail) & (mut_pdf["ts_ms"] < T)]
        hcnt: dict[str, int] = {}
        bsum: dict[str, float] = {}
        for v in hsnap["value"]:
            hcnt[str(v)] = hcnt.get(str(v), 0) + 1
            c = "e" if v % 2 == 0 else "o"
            bsum[c] = bsum.get(c, 0.0) + v
        for _, m in hmut.iterrows():
            s = -1 if m["is_before"] else 1
            hcnt[str(m["value"])] = hcnt.get(str(m["value"]), 0) + s
            c = "e" if m["value"] % 2 == 0 else "o"
            bsum[c] = bsum.get(c, 0.0) + s * m["value"]
        e_hist = {k: v for k, v in hcnt.items() if v > 0} or None
        # bucketed SUM: counts gate the null (cnt<=0 -> bucket absent)
        bcnt: dict[str, int] = {}
        for v in hsnap["value"]:
            c = "e" if v % 2 == 0 else "o"
            bcnt[c] = bcnt.get(c, 0) + 1
        for _, m in hmut.iterrows():
            c = "e" if m["value"] % 2 == 0 else "o"
            bcnt[c] = bcnt.get(c, 0) + (-1 if m["is_before"] else 1)
        e_bsum = {k: v for k, v in bsum.items() if bcnt.get(k, 0) > 0} or None

        def ok_scalar(a, b):
            if a is None or (isinstance(a, float) and a != a):
                return b is None
            return abs(float(a) - float(b)) < 1e-6

        g_last2 = r["value_last2"]
        ok_last = (e_last2 is None and g_last2 is None) or (
            g_last2 is not None and e_last2 is not None
            and [float(x) for x in g_last2] == [float(x) for x in e_last2])
        g_hist = dict(r["value_histogram_1d"]) if r["value_histogram_1d"] is not None else None
        g_bs = ({k: float(v) for k, v in dict(r["value_sum_1d_by_cat"]).items()}
                if r["value_sum_1d_by_cat"] is not None else None)
        e_bs = {k: float(v) for k, v in e_bsum.items()} if e_bsum else None
        ok_bs = g_bs == e_bs or (
            g_bs is not None and e_bs is not None and set(g_bs) == set(e_bs)
            and all(abs(g_bs[k] - e_bs[k]) < 1e-6 for k in g_bs))
        g_top2 = None if r["value_top2"] is None else [float(x) for x in r["value_top2"]]
        g_var = r["value_variance_1d"]
        ok_var = ok_scalar(g_var, e_var) and (
            e_var is None or abs(g_var - e_var) <= 1e-9 * max(1.0, e_var))
        if not (ok_scalar(r["value_min_1d"], e_min) and ok_last
                and g_hist == e_hist and ok_bs
                and ok_scalar(r["value_first_1d"], e_first)
                and ok_scalar(r["value_last"], e_last)
                and ok_scalar(r["value_unique_count"], e_uniq) and ok_var
                and g_top2 == e_top2 and r["sv_max_1d"] == e_smax):
            bad.append((int(r["__row_id"]),
                        dict(min=r["value_min_1d"], last2=g_last2, hist=g_hist, bs=g_bs,
                             first=r["value_first_1d"], last=r["value_last"],
                             uniq=r["value_unique_count"], var=g_var, top2=g_top2,
                             smax=r["sv_max_1d"]),
                        dict(min=e_min, last2=e_last2, hist=e_hist, bs=e_bs, first=e_first,
                             last=e_last, uniq=e_uniq, var=e_var, top2=e_top2, smax=e_smax)))
    assert not bad, f"{len(bad)} mismatches, first: {bad[:2]}"
    assert last_ties, "no query's LAST window ends on rows with equal ts"


def test_unsupported_op_rejected(spark):
    gb = GroupBy(
        name="bad",
        sources=(EntitySource(snapshot_table="x", mutation_table="y"),),
        key_columns=("key",),
        aggregations=(Aggregation("value", Operation.APPROX_FREQUENT_K),),
    )
    with pytest.raises(NotImplementedError, match="mutation-path"):
        compute_entities_temporal(spark, gb, None)


def test_null_key_matches_nothing(spark, tmp_path_factory):
    """A null key equals no key, itself included (compute_group_by gives a
    null-key query null features): the null-key snapshot rows must not
    feed the null-key query."""
    base = tmp_path_factory.mktemp("tent_null")
    day = BASE_DAY * MS_DAY
    ds = pd.Timestamp(day - MS_DAY, unit="ms").strftime("%Y-%m-%d")
    spark.createDataFrame(
        [(ds, None, 5.0, day - 5000), (ds, None, 7.0, day - 4000), (ds, "a", 1.0, day - 3000)],
        "ds string, key string, value double, ts_ms long",
    ).write.parquet(str(base / "snap"))
    spark.createDataFrame(
        [("a", 2.0, day + 1000, day + 1000, False)],
        "key string, value double, ts_ms long, mutation_ts long, is_before boolean",
    ).write.parquet(str(base / "mut"))
    gb = GroupBy(
        name="nullkey",
        sources=(EntitySource(snapshot_table=str(base / "snap"),
                              mutation_table=str(base / "mut"),
                              query=Query(time_column="ts_ms")),),
        key_columns=("key",),
        aggregations=(Aggregation("value", Operation.SUM),
                      Aggregation("value", Operation.COUNT)),
    )
    q = spark.createDataFrame([(None, day + 60_000, 0), ("a", day + 60_000, 1)],
                              "key string, qts long, __row_id long")
    got = {r["__row_id"]: (r["value_sum"], r["value_count"]) for r in
           compute_entities_temporal(spark, gb, q, query_time_col="qts").collect()}
    assert got == {0: (None, None), 1: (3.0, 2)}


def _entity_tables(spark, base, snap_rows, mut_rows, schema):
    """An EntitySource over snapshot and mutation parquet tables under
    ``base``: snapshot rows are ``(ds, *schema)``, mutation rows
    ``(*schema, mutation_ts, is_before)``."""
    spark.createDataFrame(snap_rows, f"ds string, {schema}").write.parquet(str(base / "snap"))
    spark.createDataFrame(
        mut_rows, f"{schema}, mutation_ts long, is_before boolean",
    ).write.parquet(str(base / "mut"))
    return EntitySource(snapshot_table=str(base / "snap"), mutation_table=str(base / "mut"),
                        query=Query(time_column="ts_ms"))


def test_long_sum_is_exact(spark, tmp_path_factory):
    """Integer SUM replays in int64: 2^53 + 1 + 2 loses nothing (float64
    deltas round it to ...994)."""
    base = tmp_path_factory.mktemp("tent_long")
    day = BASE_DAY * MS_DAY
    ds = pd.Timestamp(day - MS_DAY, unit="ms").strftime("%Y-%m-%d")
    src = _entity_tables(
        spark, base, [(ds, "a", 2 ** 53, day - 5000), (ds, "a", 1, day - 4000)],
        [("a", 2, day + 1000, day + 1000, False)], "key string, value long, ts_ms long")
    gb = GroupBy(name="exact", sources=(src,), key_columns=("key",),
                 aggregations=(Aggregation("value", Operation.SUM),))
    q = spark.createDataFrame([("a", day + 60_000, 0)], "key string, qts long, __row_id long")
    (row,) = compute_entities_temporal(spark, gb, q, query_time_col="qts").collect()
    assert row["value_sum"] == 9007199254740995


def test_null_time_rows_are_dropped(spark, tmp_path_factory):
    """Snapshot and mutation rows with a null row time are dropped, as
    ``events_df`` drops null-time events: adding one of each changes no
    output, unbounded or windowed."""
    day = BASE_DAY * MS_DAY
    ds = pd.Timestamp(day - MS_DAY, unit="ms").strftime("%Y-%m-%d")
    snap = [(ds, "a", 5, day - 5000), (ds, "a", 7, day - 3000)]
    muts = [("a", 2, day + 1000, day + 1000, False)]
    aggs = (Aggregation("value", Operation.COUNT),
            Aggregation("value", Operation.SUM, windows=(W1D,)))
    q = spark.createDataFrame([("a", day + 500, 0), ("a", day + 60_000, 1)],
                              "key string, qts long, __row_id long")

    def run(name, snap_rows, mut_rows):
        src = _entity_tables(spark, tmp_path_factory.mktemp(name), snap_rows, mut_rows,
                             "key string, value long, ts_ms long")
        gb = GroupBy(name=name, sources=(src,), key_columns=("key",), aggregations=aggs)
        return {r["__row_id"]: (r["value_count"], r["value_sum_1d"]) for r in
                compute_entities_temporal(spark, gb, q, query_time_col="qts").collect()}

    clean = run("tent_ts", snap, muts)
    with_nulls = run("tent_null_ts", snap + [(ds, "a", 100, None)],
                     muts + [("a", 100, None, day + 200, False)])
    assert clean == {0: (2, 12), 1: (3, 14)}
    assert with_nulls == clean


def test_integer_keys_match_pit_engine(spark, tmp_path_factory):
    """HISTOGRAM keys and bucket names of long columns print as the PIT
    engine prints them ('7', not '7.0'): an insert-only feed replayed as
    entities equals the same rows aggregated as events."""
    base = tmp_path_factory.mktemp("tent_keys")
    day = BASE_DAY * MS_DAY
    ds = pd.Timestamp(day - MS_DAY, unit="ms").strftime("%Y-%m-%d")
    snap = [("a", 7, 1, day - 9000), ("a", 7, 2, day - 8000), ("a", 3, 1, day - 7000),
            ("b", 12, 7, day - 6000)]
    muts = [("a", 3, 2, day + 1000), ("b", 7, 7, day + 2000), ("b", 12, 10, day + 3000)]
    schema = "key string, value long, b long, ts_ms long"
    src = _entity_tables(spark, base, [(ds, *r) for r in snap],
                         [(*r, r[-1], False) for r in muts], schema)
    spark.createDataFrame(snap + muts, schema).write.parquet(str(base / "events"))
    aggs = (Aggregation("value", Operation.HISTOGRAM),
            Aggregation("value", Operation.SUM, buckets=("b",)),
            Aggregation("value", Operation.MAX, buckets=("b",)))
    q = spark.createDataFrame(
        [("a", day + 500, 0), ("a", day + 60_000, 1), ("b", day + 2500, 2),
         ("b", day + 60_000, 3)], "key string, qts long, __row_id long")
    ent = compute_entities_temporal(
        spark, GroupBy(name="keys", sources=(src,), key_columns=("key",), aggregations=aggs),
        q, query_time_col="qts")
    pit = compute_group_by(
        spark, GroupBy(name="keys", key_columns=("key",), aggregations=aggs,
                       sources=(EventSource(table=str(base / "events"),
                                            query=Query(time_column="ts_ms")),)),
        q, query_time_col="qts")

    def rows(df):
        return {r["__row_id"]: r.asDict() for r in df.collect()}

    got, exp = rows(ent), rows(pit)
    assert got == exp
    assert got[3]["value_histogram"] == {"7": 1, "12": 2}
    assert got[3]["value_sum_by_b"] == {"7": 19, "10": 12}


def test_list_input_rejected(spark, tmp_path_factory):
    """List and map inputs have no mutation-path support: refused when the
    query is planned, not miscounted (COUNT of rows) or crashed in a worker."""
    base = tmp_path_factory.mktemp("tent_list")
    day = BASE_DAY * MS_DAY
    ds = pd.Timestamp(day - MS_DAY, unit="ms").strftime("%Y-%m-%d")
    src = _entity_tables(spark, base, [(ds, "a", [1, 2, 3], day - 5000)],
                         [("a", [4], day + 1000, day + 1000, False)],
                         "key string, value array<long>, ts_ms long")
    q = spark.createDataFrame([("a", day + 60_000, 0)], "key string, qts long, __row_id long")
    for op in (Operation.COUNT, Operation.SUM, Operation.MAX):
        gb = GroupBy(name="lists", sources=(src,), key_columns=("key",),
                     aggregations=(Aggregation("value", op),))
        with pytest.raises(NotImplementedError, match="array<bigint> input value"):
            compute_entities_temporal(spark, gb, q, query_time_col="qts")


def test_query_slices_match_one_pass(monkeypatch):
    """The insert-only tier finishes queries in slices whose ids fit above
    the group encoding's time bits; slicing must not change any result."""
    rng = np.random.default_rng(4)
    n = 80
    key = rng.integers(0, 3, n)
    ts = rng.integers(0, 20, n) * 600_000  # equal ts are common
    o = np.lexsort((ts, key))
    key, ts = key[o], ts[o]
    kind = rng.integers(0, 3, n)
    value = np.where(kind == et.KIND_QUERY, None, rng.integers(0, 9, n))
    tbl = pa.table({
        "key": key, TS_COL: ts, "__kind": kind.astype(np.int32),
        "__mut_ts": np.where(kind == et.KIND_MUTATION, ts + rng.integers(-3, 3, n) * 600_000, 0),
        "__rev": (kind == et.KIND_MUTATION) & (rng.random(n) < 0.2),
        ROW_ID: np.arange(n), "value": pa.array(value, pa.int64()),
    })
    h2 = Window(2, TimeUnit.HOURS)
    parts = GroupBy(name="slices", sources=(), key_columns=("key",), aggregations=(
        Aggregation("value", Operation.LAST, windows=(None, h2)),
        Aggregation("value", Operation.FIRST, windows=(h2,)),
        Aggregation("value", Operation.UNIQUE_COUNT, windows=(None, h2)),
        Aggregation("value", Operation.VARIANCE, windows=(None,)),
        Aggregation("value", Operation.TOP_K, arg_map=(("k", "2"),), windows=(h2,)),
        Aggregation("value", Operation.LAST_K, arg_map=(("k", "3"),), windows=(None,)),
    )).parts()
    schema = to_arrow_schema(T.StructType(
        [T.StructField(ROW_ID, T.LongType(), False)]
        + [output_field(p, T.LongType()) for p in parts]))
    start = group_starts(tbl, ["key"])

    one_pass = et._chunk(tbl, start, parts, schema)
    monkeypatch.setattr(et, "_MAX_GROUPS", 2)
    sliced = et._chunk(tbl, start, parts, schema)
    assert one_pass.num_rows == int((kind == et.KIND_QUERY).sum())
    assert all(one_pass.column(p.output_name).null_count < one_pass.num_rows for p in parts)
    assert sliced.equals(one_pass)
