"""Offline-join == online-fetch parity (the reference's strongest e2e
oracle, FetcherTestUtil.scala:245-740): batch upload at T0 + stream tiles
(T0, T1] fetched at T1 must equal compute_key_states at T1."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from zipline_chronon_spark.api import (Aggregation, EventSource, GroupBy, Operation,
                                       Query, TimeUnit, Window)
from zipline_chronon_spark.online.fetcher import (Fetcher, upload_batch_state,
                                                  upload_stream_events)
from zipline_chronon_spark.online.kv import InMemoryKv
from zipline_chronon_spark.operators.pit_join import compute_key_states

BASE = 1_700_000_000_000
HOP = 300_000


@pytest.fixture(scope="module")
def events(spark):
    rng = np.random.default_rng(8)
    n = 3000
    pdf = pd.DataFrame({
        "k": rng.integers(0, 6, size=n).astype(str),
        # from a day before BASE: the batch ends at BASE + 1d, so the
        # 1-day windows' tile floor lies near BASE and the older events
        # become collapsed (``fx__batch``) rows
        "ts_ms": BASE + rng.integers(-86_400_000, 2 * 86_400_000, size=n),
        "v": rng.normal(10, 3, size=n).round(3),
        "cat": [f"c{int(x)}" for x in rng.integers(0, 25, size=n)],
    }).astype({"ts_ms": "int64"})
    spark.createDataFrame(pdf).createOrReplaceTempView("fx_events")
    return pdf


def _gb():
    return GroupBy(
        name="fx",
        sources=(EventSource(table="fx_events", query=Query(time_column="ts_ms")),),
        key_columns=("k",),
        aggregations=(
            Aggregation("v", Operation.SUM, windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("v", Operation.COUNT, windows=(None, Window(6, TimeUnit.HOURS))),
            Aggregation("v", Operation.AVERAGE, windows=(None,)),
            Aggregation("v", Operation.MIN, windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("v", Operation.MAX, windows=(None,)),
            Aggregation("v", Operation.LAST, windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("v", Operation.FIRST, windows=(None,)),
            Aggregation("cat", Operation.APPROX_UNIQUE_COUNT,
                        windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("cat", Operation.APPROX_FREQUENT_K,
                        arg_map=(("k", "2"),), windows=(None,)),
            Aggregation("v", Operation.APPROX_PERCENTILE,
                        arg_map=(("percentiles", "[0.5, 0.9]"),),
                        windows=(None, Window(1, TimeUnit.DAYS))),
        ),
    )


def test_fetch_equals_offline(spark, events):
    gb = _gb()
    t0 = ((BASE + 86_400_000) // HOP) * HOP
    t1 = t0 + 10 * 3_600_000  # arbitrary fetch point, NOT tile-aligned

    kv = InMemoryKv()
    n_rows = upload_batch_state(kv, spark, gb, t0)
    assert n_rows > 6  # collapsed rows + tail tiles
    n_ev = upload_stream_events(kv, spark, gb, t0, t1)
    assert n_ev > 0

    fetcher = Fetcher(kv, gb)
    offline = (compute_key_states(spark, gb, at_ts_ms=t1)
               .toPandas().set_index("k"))

    for key in sorted(offline.index):
        got = fetcher.fetch((key,), at_ts_ms=t1)
        row = offline.loc[key]
        for col in ["v_sum", "v_count", "v_min", "v_max", "v_last", "v_first",
                    "v_average", "v_sum_1d", "v_count_6h", "v_min_1d", "v_last_1d"]:
            g, e = got[col], row[col]
            if e is None or (isinstance(e, float) and np.isnan(e)):
                assert g is None, (key, col, g)
            else:
                assert abs(float(g) - float(e)) < 1e-9, (key, col, g, e)
        # sparse/exact-regime sketches: exact equality, incl. windowed
        assert got["cat_approx_unique_count"] == row["cat_approx_unique_count"]
        assert got["cat_approx_unique_count_1d"] == row["cat_approx_unique_count_1d"]
        assert dict(got["cat_approx_frequent_k"]) == dict(row["cat_approx_frequent_k"])
        np.testing.assert_allclose(got["v_approx_percentile"],
                                   list(row["v_approx_percentile"]), atol=1e-12)
        np.testing.assert_allclose(got["v_approx_percentile_1d"],
                                   list(row["v_approx_percentile_1d"]), atol=1e-12)


def test_fetch_unseen_key(spark, events):
    gb = _gb()
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, BASE + 86_400_000)
    got = Fetcher(kv, gb).fetch(("nope",))
    assert all(v is None for v in got.values())


def test_upload_table_bulk_load_parity(spark, events, tmp_path):
    """GroupByUpload as a TABLE + bulk-load == direct streaming upload
    (reference shape: GroupByUpload writes an IR table; a bulk loader ships
    it to KV). The materialized parquet round-trip must not change a byte."""
    from zipline_chronon_spark.online.fetcher import bulk_load, group_by_upload_df

    gb = _gb()
    t0 = ((BASE + 86_400_000) // HOP) * HOP

    direct = InMemoryKv()
    upload_batch_state(direct, spark, gb, t0)

    up = group_by_upload_df(spark, gb, t0)
    p = str(tmp_path / "upload")
    up.write.mode("overwrite").parquet(p)  # warehouse materialization
    loaded = InMemoryKv()
    n = bulk_load(loaded, spark.read.parquet(p), gb, batch_end_ms=t0)
    assert n > 6
    assert direct.data.get(f"{gb.name}__batch")  # collapsed rows round-trip too
    for ds in (f"{gb.name}__batch", f"{gb.name}__tiles", f"{gb.name}__meta"):
        assert loaded.data.get(ds, {}) == direct.data.get(ds, {}), ds


def test_stream_upload_rerun_is_idempotent(spark, events):
    """Uploads are at-least-once: a RETRIED upload_stream_events of the same
    range must overwrite its previous keys (deterministic __seq), not write
    the same events again under new keys and double-count every fetch
    (round-3 advice on monotonically_increasing_id keys)."""
    gb = _gb()
    t0 = ((BASE + 86_400_000) // HOP) * HOP
    t1 = t0 + 10 * 3_600_000
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, t0)
    n1 = upload_stream_events(kv, spark, gb, t0, t1)
    once = {k: Fetcher(kv, gb).fetch((k,), at_ts_ms=t1) for k in "012345"}

    # retry the SAME range, then an overlapping sub-range: key count and
    # fetch results must not change
    n2 = upload_stream_events(kv, spark, gb, t0, t1)
    upload_stream_events(kv, spark, gb, t0 + 3_600_000, t1)
    assert n2 == n1
    assert len(kv.data[f"{gb.name}__events"]) == n1
    again = {k: Fetcher(kv, gb).fetch((k,), at_ts_ms=t1) for k in "012345"}
    for k in once:
        for c, v in once[k].items():
            g = again[k][c]
            if isinstance(v, float):
                assert abs(g - v) < 1e-9, (k, c)
            else:
                assert g == v, (k, c)


def test_fetch_time_derivations(spark, events):
    """A GroupBy with derivations serves the DERIVED columns online —
    offline backfill and online fetch agree column-for-column (reference:
    Fetcher derivation stage via CatalystUtil.scala; round-3 missing #1)."""
    import dataclasses

    from zipline_chronon_spark.api import Derivation

    gb = dataclasses.replace(_gb(), derivations=(
        Derivation("*", "*"),
        Derivation("v_rate", "v_sum / v_count"),
        Derivation("v_spread", "v_max - v_min"),
    ))
    t0 = ((BASE + 86_400_000) // HOP) * HOP
    t1 = t0 + 10 * 3_600_000
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, t0)
    upload_stream_events(kv, spark, gb, t0, t1)
    f = Fetcher(kv, gb, spark=spark)

    # offline output — compute_group_by already applies gb.derivations
    import numpy as np

    offline = (compute_key_states(spark, gb, at_ts_ms=t1)
               .toPandas().set_index("k"))
    assert "v_rate" in offline.columns

    for key in sorted(offline.index):
        got = f.fetch((key,), at_ts_ms=t1)
        assert "v_rate" in got and "v_spread" in got
        for col in ["v_rate", "v_spread", "v_sum", "v_count"]:
            g, e = got[col], offline.loc[key][col]
            if e is None or (isinstance(e, float) and np.isnan(e)):
                assert g is None, (key, col, g)
            else:
                assert abs(float(g) - float(e)) < 1e-9, (key, col, g, e)
    # raw fetch still available for IR-level consumers
    raw = f.fetch(("0",), at_ts_ms=t1, derive=False)
    assert "v_rate" not in raw and "v_sum" in raw


def test_dirkv_executor_path_parity(spark, events, tmp_path):
    """The DISTRIBUTED sink (KvStore.write_rows default: executor-side
    mapPartitions, no driver collect) must land byte-identical state to the
    in-memory collecting adapter, and serve identical fetches."""
    from zipline_chronon_spark.online.kv import DirKv

    gb = _gb()
    t0 = ((BASE + 86_400_000) // HOP) * HOP
    t1 = t0 + 10 * 3_600_000

    mem = InMemoryKv()
    upload_batch_state(mem, spark, gb, t0)
    upload_stream_events(mem, spark, gb, t0, t1)

    dkv = DirKv(str(tmp_path / "kv"))
    n_rows = upload_batch_state(dkv, spark, gb, t0)
    n_ev = upload_stream_events(dkv, spark, gb, t0, t1)
    assert n_rows > 6 and n_ev > 0

    # batch + tile datasets byte-identical (event keys embed a plan-unique
    # seq, so compare their value payloads as multisets)
    for ds in (f"{gb.name}__batch", f"{gb.name}__tiles", f"{gb.name}__meta"):
        assert dict(dkv.scan(ds)) == mem.data.get(ds, {}), ds
    ev_ds = f"{gb.name}__events"
    assert sorted(v for _, v in dkv.scan(ev_ds)) == sorted(mem.data[ev_ds].values())

    fm, fd = Fetcher(mem, gb), Fetcher(dkv, gb)
    for key in ["0", "1", "2", "3", "4", "5", "nope"]:
        a, b = fd.fetch((key,), at_ts_ms=t1), fm.fetch((key,), at_ts_ms=t1)
        assert a.keys() == b.keys(), key
        for c in a:
            # scan order differs (sha-sorted files vs insertion): float IR
            # merges may differ by summation-order ulps, nothing else
            if isinstance(a[c], float) and isinstance(b[c], float):
                assert abs(a[c] - b[c]) < 1e-6 + 1e-9 * abs(b[c]), (key, c)
            else:
                assert a[c] == b[c], (key, c)


def test_all_null_window_sum_is_null(spark):
    """An all-null window must serve SUM as NULL, not 0 (round-4 advice):
    the {nm}__count ride-along on SUM IRs encodes 0 for an all-null tile,
    which must not make finalize_part treat the part as 'present'. Pins
    offline compute_group_by == online Fetcher == batch approx engine."""
    from zipline_chronon_spark.operators.approx_engine import compute_group_by_approx

    t0 = ((BASE + 86_400_000) // HOP) * HOP
    t1 = t0 + 10 * 3_600_000
    pdf = pd.DataFrame({
        # key "n": all-NULL v rows BEFORE batch end (land in batch tail
        # tiles, whose encoded IR carries only {nm}__count: 0) AND after
        # (raw stream head events) -> SUM/COUNT must serve NULL, not 0
        # key "p": normal rows -> SUM real
        "k": ["n", "n", "n", "n", "p", "p"],
        "ts_ms": [t0 - 3 * 3_600_000, t0 - 2 * 3_600_000, t0 - 3_600_000,
                  t1 - 600_000,
                  t0 - 3_600_000, t1 - 600_000],
        "v": [None, None, None, None, 2.5, 4.0],
    }).astype({"ts_ms": "int64"})
    spark.createDataFrame(pdf).createOrReplaceTempView("nullsum_events")
    gb = GroupBy(
        name="nullsum",
        sources=(EventSource(table="nullsum_events",
                             query=Query(time_column="ts_ms")),),
        key_columns=("k",),
        aggregations=(
            Aggregation("v", Operation.SUM,
                        windows=(None, Window(1, TimeUnit.DAYS))),
            Aggregation("v", Operation.COUNT,
                        windows=(Window(1, TimeUnit.DAYS),)),
            Aggregation("v", Operation.AVERAGE, windows=(None,)),
        ),
    )
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, t0)
    upload_stream_events(kv, spark, gb, t0, t1)
    f = Fetcher(kv, gb)

    offline = (compute_key_states(spark, gb, at_ts_ms=t1)
               .toPandas().set_index("k"))
    q = spark.createDataFrame(
        pd.DataFrame({"k": ["n", "p"], "ts_ms": [t1, t1],
                      "__row_id": [0, 1]})
        .astype({"ts_ms": "int64", "__row_id": "int64"}))
    approx = (compute_group_by_approx(spark, gb, q, row_id="__row_id",
                                      query_time_col="ts_ms")
              .toPandas()
              .merge(pd.DataFrame({"k": ["n", "p"], "__row_id": [0, 1]}),
                     on="__row_id")
              .set_index("k"))

    for eng, row_n in [("fetch", f.fetch(("n",), at_ts_ms=t1)),
                       ("offline", offline.loc["n"].to_dict()),
                       ("approx", approx.loc["n"].to_dict())]:
        # COUNT follows reference semantics too: null inputs never
        # initialize the IR, so count-of-nothing renders NULL (the driver
        # oracles encode the same CASE WHEN count=0 THEN NULL)
        for c in ("v_sum", "v_sum_1d", "v_average", "v_count_1d"):
            v = row_n[c]
            assert v is None or (isinstance(v, float) and np.isnan(v)), (eng, c, v)
    got_p = f.fetch(("p",), at_ts_ms=t1)
    assert abs(got_p["v_sum_1d"] - 6.5) < 1e-9


def test_fetch_batch_parity(spark, events):
    """fetch_batch (one scan pass per dataset) must be per-key identical to
    fetch — including unseen keys and derivations off/on."""
    gb = _gb()
    t0 = ((BASE + 86_400_000) // HOP) * HOP
    t1 = t0 + 10 * 3_600_000
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, t0)
    upload_stream_events(kv, spark, gb, t0, t1)
    f = Fetcher(kv, gb)
    keys = [("0",), ("3",), ("nope",), ("5",), ("1",)]
    batch = f.fetch_batch(keys, at_ts_ms=t1)
    for kt, got in zip(keys, batch):
        one = f.fetch(kt, at_ts_ms=t1)
        assert got.keys() == one.keys(), kt
        for c in one:
            a, b = got[c], one[c]
            if isinstance(b, float):
                assert abs(a - b) < 1e-12, (kt, c)
            else:
                assert a == b, (kt, c)


def test_upload_batch_state_writes_through_one_sink(spark, events):
    """Collapsed rows and tiles are one GroupByUpload table, so the batch
    upload streams into the store through ONE write_rows call."""

    class CountingKv(InMemoryKv):
        def __init__(self):
            super().__init__()
            self.sinks = 0

        def write_rows(self, df, encode_fn):
            self.sinks += 1
            return super().write_rows(df, encode_fn)

    kv = CountingKv()
    n = upload_batch_state(kv, spark, _gb(), ((BASE + 86_400_000) // HOP) * HOP)
    assert kv.sinks == 1
    assert n == sum(len(kv.data.get(ds, {})) for ds in ("fx__batch", "fx__tiles"))


def test_scalar_upload_table_runs_no_python(spark, events):
    """Scalar IRs are Spark aggregates and bulk_load encodes rows itself: the
    upload table of a scalar-only GroupBy has no Python node in its plan."""
    import dataclasses

    from zipline_chronon_spark.online.fetcher import group_by_upload_df

    gb = dataclasses.replace(_gb(), aggregations=tuple(
        a for a in _gb().aggregations if a.operation in
        (Operation.SUM, Operation.COUNT, Operation.AVERAGE, Operation.MIN,
         Operation.MAX, Operation.FIRST, Operation.LAST)))
    up = group_by_upload_df(spark, gb, ((BASE + 86_400_000) // HOP) * HOP)
    assert up.count() > 6
    plan = up._jdf.queryExecution().executedPlan().toString()
    for node in ("Pandas", "Python", "MapInArrow"):
        assert node not in plan, plan


def test_keys_sharing_a_first_component(spark):
    """Keys "a|b", "a" and "a|" encode to byte strings that share their first
    ``|``-component, so an indexed prefix scan looks at all three; each
    fetch must still read only its own key's state (== the offline engine),
    and fetch_batch must equal per-key fetch."""
    import dataclasses

    rng = np.random.default_rng(11)
    n = 600
    pdf = pd.DataFrame({
        "k": rng.choice(["a|b", "a", "a|"], size=n),
        # from a day before BASE: the batch ends at BASE + 1d, so the
        # 1-day windows' tile floor lies near BASE and the older events
        # become collapsed (``fx__batch``) rows
        "ts_ms": BASE + rng.integers(-86_400_000, 2 * 86_400_000, size=n),
        "v": rng.normal(10, 3, size=n).round(3),
        "cat": [f"c{int(x)}" for x in rng.integers(0, 25, size=n)],
    }).astype({"ts_ms": "int64"})
    spark.createDataFrame(pdf).createOrReplaceTempView("pipe_events")
    gb = dataclasses.replace(_gb(), name="pipe", sources=(
        EventSource(table="pipe_events", query=Query(time_column="ts_ms")),))
    t0 = ((BASE + 86_400_000) // HOP) * HOP
    t1 = t0 + 10 * 3_600_000
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, t0)
    upload_stream_events(kv, spark, gb, t0, t1)
    f = Fetcher(kv, gb)
    offline = (compute_key_states(spark, gb, at_ts_ms=t1)
               .toPandas().set_index("k"))
    keys = [("a|b",), ("a",), ("a|",), ("a|c",)]
    batch = f.fetch_batch(keys, at_ts_ms=t1)
    for kt, got in zip(keys, batch):
        assert got == f.fetch(kt, at_ts_ms=t1), kt
        if kt[0] not in offline.index:
            assert all(v is None for v in got.values()), kt
            continue
        row = offline.loc[kt[0]]
        for col in ["v_sum", "v_count", "v_min", "v_last", "v_sum_1d", "v_count_6h",
                    "cat_approx_unique_count", "cat_approx_unique_count_1d"]:
            assert abs(float(got[col]) - float(row[col])) < 1e-9, (kt, col)
