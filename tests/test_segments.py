"""segments.py (vectorized finishes) vs kernels.py (loop kernels) parity on
randomized ranges — no Spark needed."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from zipline_chronon_spark.api import AggregationPart, Operation, Window, TimeUnit
from zipline_chronon_spark.operators import segments
from tests import kernel_oracle as kernels

rng = np.random.default_rng(7)


def _ranges(n, q):
    lo = rng.integers(0, n + 1, size=q)
    hi = rng.integers(0, n + 1, size=q)
    lo, hi = np.minimum(lo, hi), np.maximum(lo, hi)
    # include some empties and full ranges
    lo[0] = hi[0] = 0
    if q > 1:
        lo[1], hi[1] = 0, n
    return lo.astype(np.int64), hi.astype(np.int64)


def _part(op, k=None, args=()):
    am = tuple(args) + ((("k", str(k)),) if k is not None else ())
    return AggregationPart("v", op, arg_map=am, window=Window(1, TimeUnit.DAYS))


@pytest.mark.parametrize("dtype", ["float", "int", "str"])
def test_topk_bottomk_unique_topk(dtype):
    n, q = 300, 80
    if dtype == "float":
        vals = rng.normal(size=n).round(2)
    elif dtype == "int":
        vals = rng.integers(-5, 6, size=n)
    else:
        vals = np.array([f"s{int(x):02d}" for x in rng.integers(0, 30, size=n)], dtype=object)
    arr = pa.array(list(vals))
    fpos = np.arange(n, dtype=np.int64)
    lo, hi = _ranges(n, q)
    ts = np.arange(n, dtype=np.int64)

    for op, fn_largest in ((Operation.TOP_K, True), (Operation.BOTTOM_K, False),
                           (Operation.UNIQUE_TOP_K, None)):
        part = _part(op, k=3)
        expect = kernels.run_kernel(part, vals, ts, lo, hi)
        if arr.type == pa.string():
            sort_key, _ = segments.rank_codes(arr, fpos)
        else:
            sort_key = np.asarray(vals, dtype=np.float64)
        lt = pa.list_(arr.type)
        if op == Operation.UNIQUE_TOP_K:
            got = segments.unique_topk(arr, fpos, sort_key, lo, hi, 3, lt)
        else:
            got = segments.topk_bottomk(arr, fpos, sort_key, lo, hi, 3, fn_largest, lt)
        got_py = got.to_pylist()
        assert len(got_py) == len(expect)
        for g, e in zip(got_py, expect):
            if e is None:
                assert g is None
            else:
                assert list(g) == [x.item() if hasattr(x, "item") else x for x in e], (op, g, e)


def test_percentiles():
    n, q = 400, 60
    vals = rng.normal(size=n)
    lo, hi = _ranges(n, q)
    ts = np.arange(n, dtype=np.int64)
    part = _part(Operation.APPROX_PERCENTILE, args=((("percentiles", "[0.1, 0.5, 0.95]"),)))
    expect = kernels.run_kernel(part, vals, ts, lo, hi)
    got = segments.percentiles(vals, lo, hi, [0.1, 0.5, 0.95],
                               pa.list_(pa.float64())).to_pylist()
    for g, e in zip(got, expect):
        if e is None:
            assert g is None
        else:
            np.testing.assert_allclose(g, e, rtol=1e-12, atol=1e-12)


def test_unique_count_windowed_and_unbounded():
    n, q = 500, 100
    vals = rng.integers(0, 40, size=n)
    lo, hi = _ranges(n, q)
    ts = np.arange(n, dtype=np.int64)
    part = _part(Operation.UNIQUE_COUNT)
    expect = kernels.run_kernel(part, vals, ts, lo, hi)
    arr = pa.array(vals)
    codes, _ = segments.rank_codes(arr, np.arange(n, dtype=np.int64))
    prev = segments.prev_occurrence(codes)
    got = segments.unique_count(prev, lo, hi, pa.int64()).to_pylist()
    assert got == expect

    # unbounded: lo always == group start; fake 3 groups
    gstart = np.zeros(n, dtype=np.int64)
    gstart[n // 3:] = n // 3
    gstart[2 * n // 3:] = 2 * n // 3
    lo_u = gstart[np.minimum(hi, n - 1)]
    lo_u = np.minimum(lo_u, hi)
    expect_u = kernels.run_kernel(part, vals, ts, lo_u, hi)
    got_u = segments.unique_count_unbounded(prev, gstart, lo_u, hi, pa.int64()).to_pylist()
    assert got_u == expect_u


def test_histogram_and_frequent_k():
    n, q = 400, 60
    vals = np.array([f"w{int(x)}" for x in rng.integers(0, 12, size=n)], dtype=object)
    lo, hi = _ranges(n, q)
    ts = np.arange(n, dtype=np.int64)
    arr = pa.array(list(vals))
    codes, sorted_dict = segments.rank_codes(arr, np.arange(n, dtype=np.int64))
    uniq_strs = pa.array([str(v) for v in sorted_dict.to_pylist()], type=pa.string())
    mt = pa.map_(pa.string(), pa.int64())

    for op, k, by_count in ((Operation.HISTOGRAM, None, False),
                            (Operation.HISTOGRAM, 4, False),
                            (Operation.APPROX_FREQUENT_K, 4, True),
                            (Operation.APPROX_HEAVY_HITTERS_K, 4, True)):
        part = _part(op, k=k)
        expect = kernels.run_kernel(part, vals, ts, lo, hi)
        got = segments.histogram_map(codes, uniq_strs, lo, hi,
                                     k if (k or by_count) else None, mt,
                                     order_by_count=by_count).to_pylist()
        for g, e in zip(got, expect):
            if e is None:
                assert g is None
            else:
                assert dict(g) == e, (op, k, g, e)


def test_unique_topk_struct():
    """struct{sort_key, unique_id}: first occurrence per id survives, then
    top-k by sort_key desc (UniqueOrderByLimit.scala semantics)."""
    n, q, k = 300, 60, 3
    uid = rng.integers(0, 40, size=n).astype(np.int64)
    sk = np.array([f"s{int(x):02d}" for x in rng.integers(0, 25, size=n)], dtype=object)
    col = pa.StructArray.from_arrays(
        [pa.array(list(sk)), pa.array(uid)], names=["sort_key", "unique_id"])
    fpos = np.arange(n, dtype=np.int64)
    lo, hi = _ranges(n, q)
    sk_rank, _ = segments.rank_codes(col.field("sort_key"), fpos)
    got = segments.unique_topk_struct(
        col, fpos, uid, sk_rank, lo, hi, k,
        pa.list_(col.type)).to_pylist()
    for g, (l, h) in zip(got, zip(lo, hi)):
        if h <= l:
            assert g is None
            continue
        seen, firsts = set(), []
        for i in range(l, h):
            if uid[i] not in seen:
                seen.add(uid[i])
                firsts.append(i)
        exp = sorted(firsts, key=lambda i: (tuple(-ord(c) for c in sk[i]), i))[:k]
        assert [(e["sort_key"], e["unique_id"]) for e in g] == \
            [(sk[i], int(uid[i])) for i in exp], (l, h, g, exp)


def test_unique_topk_struct_through_engine(spark):
    """struct{sort_key, unique_id} UNIQUE_TOP_K end-to-end through the
    Arrow engine (SimpleAggregators.scala:768-917 input shape)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from zipline_chronon_spark.api import Aggregation, EventSource, GroupBy, Query
    from zipline_chronon_spark.operators.pit_join import compute_group_by

    base = 1_700_000_000_000
    n = 400
    pdf = pd.DataFrame({
        "k": [f"g{i % 4}" for i in range(n)],
        "ts_ms": base + rng.permutation(n) * 60_000,
        "sk": [f"s{int(x):02d}" for x in rng.integers(0, 20, size=n)],
        "uid": rng.integers(0, 30, size=n),
    }).astype({"ts_ms": "int64", "uid": "int64"})
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("ut_events")
    gb = GroupBy(
        name="ut",
        sources=(EventSource(
            table="ut_events",
            query=Query(selects={"k": "k",
                                 "item": "named_struct('sort_key', sk, 'unique_id', uid)"},
                        time_column="ts_ms"),
        ),),
        key_columns=("k",),
        aggregations=(Aggregation("item", Operation.UNIQUE_TOP_K,
                                  arg_map=(("k", "3"),), windows=(None,)),),
    )
    left = sdf.select("k", "ts_ms").withColumn("__row_id", F.xxhash64("k", "ts_ms"))
    got = compute_group_by(spark, gb, left, row_id="__row_id",
                           query_time_col="ts_ms").toPandas()
    lm = left.toPandas().set_index("__row_id")
    pdf_sorted = pdf.sort_values(["ts_ms"], kind="stable")
    bad = 0
    for _, r in got.iterrows():
        key, qt = lm.loc[r["__row_id"], "k"], lm.loc[r["__row_id"], "ts_ms"]
        sub = pdf_sorted[(pdf_sorted["k"] == key) & (pdf_sorted["ts_ms"] <= qt)]
        seen, firsts = set(), []
        for _, e in sub.iterrows():
            if e["uid"] not in seen:
                seen.add(e["uid"])
                firsts.append((e["sk"], int(e["uid"])))
        exp = sorted(range(len(firsts)),
                     key=lambda i: (tuple(-ord(c) for c in firsts[i][0]), i))[:3]
        expect = [firsts[i] for i in exp]
        g = [(x["sort_key"], x["unique_id"]) for x in r["item_unique_top3"]]
        if g != expect:
            bad += 1
    assert bad == 0, bad
