"""Every queries() entry must match its DuckDB oracle (the driver's gate)."""

from __future__ import annotations

import os

import pytest

from tests import mini_driver

SF_DIR = os.environ.get("ZCS_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert "event_id" in df.columns


def test_all_queries_match_oracles(spark):
    results = mini_driver.run_all(spark, SF_DIR)
    failures = {
        n: {k: v for k, v in r.items() if k != "ok"}
        for n, r in results.items()
        if not r["ok"]
    }
    assert not failures, failures
    # one Arrow boundary: no query crosses into Python through pandas
    pandas_nodes = {n: r["python_nodes"] for n, r in results.items()
                    if any("InPandas" in x for x in r["python_nodes"])}
    assert not pandas_nodes, pandas_nodes


def test_join_flagship_zero_denominator_is_null(spark, tmp_path):
    """A zero LAST value divides to NULL, as in the DuckDB oracle: a zero
    event over itself (0 / 0) and a same-ts later event_id over it (x / 0)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    t0 = dt.datetime(2024, 1, 1)
    rows = [  # (event_id, minutes after t0, user_id, value)
        (0, 0, 1, 2.0), (1, 30, 1, 0.0), (2, 30, 1, 3.0), (3, 90, 1, 4.5),
        (4, 10, 2, 0.0), (5, 20, 2, 1.5), (6, 15, 3, 7.0),
    ]
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(minutes=r[1]) for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": ["click"] * len(rows),
        "value": pa.array([r[3] for r in rows], pa.float64()),
        "props": ["{}"] * len(rows),
    }), tmp_path / "events.parquet")
    got = e.q_join_flagship(spark, str(tmp_path))
    exp = mini_driver.duck_con(str(tmp_path)).execute(e.o_join_flagship()).fetchdf()
    assert exp["value_over_last"].isna().sum() == 3
    res = mini_driver.compare(got, exp)
    assert res["ok"], res
