"""SNAPSHOT accuracy + vector/map input shapes vs hand-rolled oracles."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests import specs
from tests.naive_oracle import naive_one, tail_start
from zipline_chronon_spark.api import (
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
    TimeUnit,
    Window,
)
from zipline_chronon_spark.operators import pit_join
from zipline_chronon_spark.sources.transcripts import generate_transcripts

MS_DAY = 86_400_000


def test_snapshot_daily(spark, tmp_path_factory):
    pdf = generate_transcripts(n_convs=10, avg_turns=25, n_days=6, seed=31)
    path = str(tmp_path_factory.mktemp("snap") / "t.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)

    gb = GroupBy(
        name="snap",
        sources=(specs.transcripts_source(path),),
        key_columns=("conv_id",),
        aggregations=(
            Aggregation("text", Operation.COUNT, windows=(Window(3, TimeUnit.DAYS), None)),
            Aggregation("len_text", Operation.SUM, windows=(Window(3, TimeUnit.DAYS),)),
        ),
        accuracy=Accuracy.SNAPSHOT,
        tie_breaker_column="turn_idx",
    )
    got = pit_join.compute_snapshot(spark, gb).toPandas().sort_values(
        ["conv_id", "ds"]).reset_index(drop=True)

    ev = pdf.copy()
    ev["ts_ms"] = ev["ts"].astype("datetime64[ms]").astype("int64")
    ev["len_text"] = ev["text"].str.len()
    ev["day"] = ev["ts_ms"] // MS_DAY
    rows = []
    for (conv, day), _ in ev.groupby(["conv_id", "day"]):
        eod_excl = (day + 1) * MS_DAY
        w3_lo = eod_excl - 3 * MS_DAY  # 3 calendar days ending at eod
        sub = ev[(ev["conv_id"] == conv) & (ev["ts_ms"] < eod_excl)]
        sub3 = sub[(sub["ts_ms"] >= w3_lo)]
        t = sub["text"].dropna()
        t3 = sub3["text"].dropna()
        l3 = sub3["len_text"].dropna()
        rows.append({
            "conv_id": conv,
            "ds": pd.Timestamp(day * MS_DAY, unit="ms").strftime("%Y-%m-%d"),
            "text_count_3d": len(t3) or None,
            "text_count": len(t) or None,
            "len_text_sum_3d": int(l3.sum()) if len(l3) else None,
        })
    exp = pd.DataFrame(rows).sort_values(["conv_id", "ds"]).reset_index(drop=True)
    assert len(got) == len(exp) > 0
    for c in ("text_count_3d", "text_count", "len_text_sum_3d"):
        a = got[c].astype("float64").fillna(-1).tolist()
        b = exp[c].astype("float64").fillna(-1).tolist()
        assert a == b, (c, [(i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y][:5])


@pytest.fixture(scope="module")
def shaped(spark):
    rows = []
    base = 1_700_000_000_000
    for i in range(60):
        rows.append((
            "k1" if i % 2 == 0 else "k2",
            base + i * 60_000,
            [float(i), float(i * 2)] if i % 5 != 0 else None,   # vector input
            {"a": i, "b": i * 10} if i % 3 != 0 else {"a": i},  # map input
            i,
            # the shape matrix: null and empty lists, null elements, null
            # map items, a non-string map key, scalars and a string bucket
            None if i % 7 == 0 else [
                None if (i + j) % 4 == 0 else float((i * 3 + j) % 5) for j in range(i % 3)],
            None if i % 11 == 0 else [
                None if (i + j) % 5 == 0 else f"s{(i * 7 + j) % 4}" for j in range(i % 3 + 1)],
            None if i % 8 == 0 else {"a": None if i % 6 == 0 else i % 4,
                                     f"c{i % 3}": (i * 5) % 7},
            None if i % 9 == 0 else {i % 3: None if i % 4 == 0 else (i % 5) / 2,
                                     10: i * 0.25},
            None if i % 9 == 4 else float(i % 6) * 0.75,
            None if i % 8 == 3 else f"v{i % 5}",
            None if i % 10 == 0 else "xyz"[i % 3],
            None if i % 13 == 0 else [f"t{(i + j) % 3}" for j in range(i % 4)],
        ))
    cols = ["key", "ts_ms", "vec", "m", "i", "vn", "vs", "mn", "ml", "x", "s", "b", "vt"]
    pdf = pd.DataFrame(rows, columns=cols)
    df = spark.createDataFrame(
        rows, "key string, ts_ms long, vec array<double>, m map<string,long>, i long, "
              "vn array<double>, vs array<string>, mn map<string,long>, "
              "ml map<long,double>, x double, s string, b string, vt array<string>")
    df.createOrReplaceTempView("shaped_events")
    return pdf


def _shaped_gb(aggs):
    return GroupBy(
        name="shaped",
        sources=(EventSource(table="shaped_events", query=Query(time_column="ts_ms")),),
        key_columns=("key",),
        aggregations=aggs,
        tie_breaker_column="i",
    )


def test_vector_input_explodes(spark, shaped):
    gb = _shaped_gb((
        Aggregation("vec", Operation.SUM, windows=(None,)),
        Aggregation("vec", Operation.COUNT, windows=(None,)),
        Aggregation("vec", Operation.MAX, windows=(None,)),
    ))
    left = spark.table("shaped_events").select(
        "key", F.col("ts_ms").alias("qts"), F.col("i").cast("long").alias("__row_id"))
    got = pit_join.compute_group_by(spark, gb, left, row_id="__row_id",
                                    query_time_col="qts").toPandas()
    got = got.sort_values("__row_id").reset_index(drop=True)
    exp_rows = {}
    for key in ("k1", "k2"):
        sub = shaped[shaped["key"] == key]
        for _, q in sub.iterrows():
            w = sub[(sub["ts_ms"] <= q["ts_ms"])]["vec"].dropna()
            flat = [v for x in w for v in x]
            exp_rows[q["i"]] = (sum(flat) if flat else None,
                                len(flat) if flat else None,
                                max(flat) if flat else None)
    def eq(x, y):
        if (x is None or x != x) and (y is None or y != y):
            return True
        return x == y

    for _, r in got.iterrows():
        e = exp_rows[r["__row_id"]]
        assert eq(r["vec_sum"], e[0]) and eq(r["vec_count"], e[1]) and eq(r["vec_max"], e[2]), (
            r["__row_id"], tuple(r[["vec_sum", "vec_count", "vec_max"]]), e)


def test_map_input_per_key(spark, shaped):
    gb = _shaped_gb((Aggregation("m", Operation.SUM, windows=(None,)),))
    left = spark.table("shaped_events").select(
        "key", F.col("ts_ms").alias("qts"), F.col("i").cast("long").alias("__row_id"))
    got = pit_join.compute_group_by(spark, gb, left, row_id="__row_id",
                                    query_time_col="qts").toPandas()
    got = got.sort_values("__row_id").reset_index(drop=True)
    for _, r in got.iterrows():
        i = r["__row_id"]
        key = "k1" if i % 2 == 0 else "k2"
        sub = shaped[(shaped["key"] == key) & (shaped["ts_ms"] <= 1_700_000_000_000 + i * 60_000)]
        exp_a = sum(d["a"] for d in sub["m"])
        exp_b = sum(d["b"] for d in sub["m"] if "b" in d)
        m = r["m_sum"]
        assert m["a"] == exp_a, (i, m, exp_a)
        if exp_b:
            assert m["b"] == exp_b, (i, m, exp_b)


# shape name -> (input column, bucket); the *_str shapes run the ops that
# accept strings. The bucketed lists hold no null elements
# (test_bucketed_list_drops_null_elements covers those).
SHAPES = {
    "list": ("vn", None),
    "map_str_long": ("mn", None),
    "map_long_double": ("ml", None),
    "bucketed_scalar": ("x", "b"),
    "bucketed_list": ("vec", "b"),
    "list_str": ("vs", None),
    "bucketed_scalar_str": ("s", "b"),
    "bucketed_list_str": ("vt", "b"),
}
NUMERIC_ONLY = {Operation.SUM, Operation.AVERAGE, Operation.VARIANCE,
                Operation.APPROX_PERCENTILE}
MATRIX_OPS = {
    Operation.COUNT: (), Operation.SUM: (), Operation.AVERAGE: (),
    Operation.VARIANCE: (), Operation.MIN: (), Operation.MAX: (),
    Operation.FIRST: (), Operation.LAST: (), Operation.LAST_K: (("k", "3"),),
    Operation.TOP_K: (("k", "2"),), Operation.UNIQUE_COUNT: (),
    Operation.HISTOGRAM: (), Operation.APPROX_PERCENTILE: (("percentiles", "[0.25, 0.5]"),),
}
W20M = Window(20, TimeUnit.MINUTES)


def _matrix_aggs(op):
    return [Aggregation(col, op, arg_map=MATRIX_OPS[op], windows=(None, W20M), buckets=(bucket,))
            for shape, (col, bucket) in SHAPES.items()
            if not (shape.endswith("_str") and op in NUMERIC_ONLY)]


def _run(spark, aggs):
    left = spark.table("shaped_events").select(
        "key", F.col("ts_ms").alias("qts"), F.col("i").cast("long").alias("__row_id"))
    got = pit_join.compute_group_by(spark, _shaped_gb(aggs), left, row_id="__row_id",
                                    query_time_col="qts").toPandas()
    return got.set_index("__row_id")


@pytest.fixture(scope="module")
def matrix(spark, shaped):
    return _run(spark, tuple(a for op in MATRIX_OPS for a in _matrix_aggs(op)))


def _norm(v):
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_norm(x) for x in v]
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and v != v):
        return None
    return v


def _close(a, b):
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12))
    return a == b and type(a) is type(b)


def _exploded_oracle(part, rows):
    """naive_one over each (sub-key -> [(value, ts)]) of one window's rows:
    list inputs explode, map inputs split per map key, bucketed inputs per
    bucket value; null rows, elements, items and buckets drop out."""
    subs: dict = {}
    for _, r in rows.iterrows():
        v = r[part.input_column]
        if v is None or (isinstance(v, float) and v != v):
            continue
        if isinstance(v, dict):
            entries = [(str(k), x) for k, x in v.items()]
        elif isinstance(v, list):
            entries = [(None, x) for x in v]
        else:
            entries = [(None, v)]
        if part.bucket is not None:
            if pd.isna(r[part.bucket]):
                continue
            entries = [(str(r[part.bucket]), x) for _, x in entries]
        for sub, x in entries:
            if x is not None:
                subs.setdefault(sub, []).append((x, r["ts_ms"]))
    if None in subs or not subs:
        pairs = subs.get(None, [])
        return naive_one(part, [x for x, _ in pairs], [t for _, t in pairs])
    out = {sub: naive_one(part, [x for x, _ in p], [t for _, t in p])
           for sub, p in subs.items()}
    return {k: r for k, r in out.items() if r is not None} or None


def _assert_oracle(shaped, got, parts):
    bad, filled = [], {p.output_name: 0 for p in parts}
    for _, q in shaped.iterrows():
        ev = shaped[(shaped["key"] == q["key"]) & (shaped["ts_ms"] <= q["ts_ms"])]
        for part in parts:
            w = ev if part.window is None else ev[
                ev["ts_ms"] >= tail_start(q["ts_ms"], part.window)]
            exp = _norm(_exploded_oracle(part, w.sort_values(["ts_ms", "i"])))
            filled[part.output_name] += exp is not None
            if not _close(_norm(got.at[q["i"], part.output_name]), exp):
                bad.append((part.output_name, q["i"], got.at[q["i"], part.output_name], exp))
    assert not bad, bad[:5]
    assert min(filled.values()) >= 20, filled


@pytest.mark.parametrize("op", list(MATRIX_OPS), ids=lambda op: op.name)
def test_shape_matrix(shaped, matrix, op):
    """Every op on list, map<string,long>, map<long,double>, bucketed scalar
    and bucketed list inputs equals the naive oracle over the exploded
    window contents."""
    _assert_oracle(shaped, matrix, [p for a in _matrix_aggs(op) for p in a.unpack()])


def test_bucketed_list_drops_null_elements(spark, shaped):
    aggs = tuple(Aggregation(col, op, windows=(None, W20M), buckets=("b",))
                 for col, ops in (("vn", (Operation.AVERAGE, Operation.MIN)),
                                  ("vs", (Operation.MAX, Operation.UNIQUE_COUNT)))
                 for op in ops)
    _assert_oracle(shaped, _run(spark, aggs), [p for a in aggs for p in a.unpack()])
