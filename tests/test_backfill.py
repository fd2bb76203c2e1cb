"""Resumable backfill: unfilled-range diffing, lineage, chunk-boundary
window correctness, spec-hash invalidation (FIXTURES.md F5.6)."""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from tests import specs
from zipline_chronon_spark.api import Aggregation, GroupBy, Operation
from zipline_chronon_spark.plans.backfill import GroupByBackfill, date_range
from zipline_chronon_spark.sources.transcripts import generate_transcripts

ROW_ID_EXPR = "xxhash64(conv_id, turn_idx)"


@pytest.fixture(scope="module")
def tset(spark, tmp_path_factory):
    pdf = generate_transcripts(n_convs=15, avg_turns=30, n_days=6, seed=3)
    path = str(tmp_path_factory.mktemp("bf") / "transcripts.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    ds_min, ds_max = pdf["ds"].min(), pdf["ds"].max()
    return path, ds_min, ds_max


def _gb(path):
    return GroupBy(
        name="bf_counts",
        sources=(specs.transcripts_source(path),),
        key_columns=("conv_id",),
        aggregations=(
            Aggregation("text", Operation.COUNT, windows=(specs.W1D, None)),
            Aggregation("len_text", Operation.SUM, windows=(specs.W1D,)),
        ),
        tie_breaker_column="turn_idx",
    )


def _read_sorted(spark, path):
    return (
        spark.read.parquet(path)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text_count_1d", "text_count", "len_text_sum_1d")
        .toPandas()
    )


def test_backfill_resume_and_equivalence(spark, tset, tmp_path_factory):
    path, ds_min, ds_max = tset
    out_a = str(tmp_path_factory.mktemp("bf") / "out_whole")
    out_b = str(tmp_path_factory.mktemp("bf") / "out_chunked")

    pt = {"conv_id": "conv_id", "turn_idx": "turn_idx"}
    # A: whole range in one chunk
    job_a = GroupByBackfill(spark, _gb(path), out_a, ROW_ID_EXPR, passthrough=pt)
    res_a = job_a.run(ds_min, ds_max, step_days=365)
    assert len(res_a["computed_chunks"]) == 1

    # B: 2-day chunks (windows must look back across chunk boundaries)
    job_b = GroupByBackfill(spark, _gb(path), out_b, ROW_ID_EXPR, passthrough=pt)
    res_b = job_b.run(ds_min, ds_max, step_days=2)
    assert len(res_b["computed_chunks"]) >= 2

    a, b = _read_sorted(spark, out_a), _read_sorted(spark, out_b)
    assert len(a) == len(b) > 0
    assert a.equals(b), "step-days chunking changed the output (metamorphic failure)"

    # lineage has per-partition rows + latency
    recs = job_b.lineage.records()
    assert all(r["rows"] > 0 and r["wall_sec"] >= 0 for r in recs)
    all_ds = {ds for r in recs for ds in r["rows_per_partition"]}
    assert all_ds == set(date_range(ds_min, ds_max))

    # resume: rerun -> nothing recomputed
    res_again = job_b.run(ds_min, ds_max, step_days=2)
    assert res_again["computed_chunks"] == []
    assert res_again["skipped"] == len(date_range(ds_min, ds_max))

    # crash simulation: forget the last 2 partitions in lineage -> only they rerun
    recs = job_b.lineage.records()
    keep_ds = sorted(all_ds)[:-2]
    os.remove(job_b.lineage.path)
    for r in recs:
        kept = [ds for ds in r["partitions"] if ds in keep_ds]
        if kept:
            r2 = dict(r, partitions=kept,
                      rows_per_partition={k: v for k, v in r["rows_per_partition"].items() if k in kept})
            job_b.lineage.append(r2)
    res_resume = job_b.run(ds_min, ds_max, step_days=2)
    recomputed = [ds for c in res_resume["computed_chunks"] for ds in c["partitions"]]
    assert sorted(recomputed) == sorted(all_ds - set(keep_ds))

    b2 = _read_sorted(spark, out_b)
    assert b2.equals(a), "resumed output differs from uninterrupted run"


def test_spec_change_invalidates(spark, tset, tmp_path_factory):
    path, ds_min, ds_max = tset
    out = str(tmp_path_factory.mktemp("bf") / "out_spec")
    job1 = GroupByBackfill(spark, _gb(path), out, ROW_ID_EXPR)
    job1.run(ds_min, ds_max, step_days=365)

    gb2 = dataclasses.replace(_gb(path), aggregations=(
        Aggregation("text", Operation.COUNT, windows=(specs.W1H, None)),
    ))
    job2 = GroupByBackfill(spark, gb2, out, ROW_ID_EXPR)
    assert job2.hash != job1.hash
    assert job2.unfilled(ds_min, ds_max) == date_range(ds_min, ds_max)


def test_join_source_backfill_releases_each_chunks_left(spark, tset, tmp_path_factory):
    """A GroupBy over a JoinSource whose join mints its row ids and has a
    TEMPORAL part: every chunk's ``compute_join`` persists its left to pin
    the minted ids. The backfill releases it once the chunk is written, so
    a finished run leaves no frame pinned and no persisted RDD behind."""
    from zipline_chronon_spark.api import EventSource, Join, JoinPart, JoinSource, Query
    from zipline_chronon_spark.operators import join as join_ops

    path, ds_min, ds_max = tset
    upstream = Join(name="up", left=EventSource(table=path, query=Query(time_column="ts")),
                    parts=(JoinPart(_gb(path)),))
    chained = GroupBy(
        name="chained",
        sources=(JoinSource(join=upstream, query=Query(time_column="ts")),),
        key_columns=("conv_id",),
        aggregations=(Aggregation("bf_counts_text_count_1d", Operation.MAX, windows=(None,)),),
        tie_breaker_column="turn_idx",
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    out = str(tmp_path_factory.mktemp("bf") / "out_chained")
    res = GroupByBackfill(spark, chained, out, ROW_ID_EXPR).run(ds_min, ds_max, step_days=2)
    assert len(res["computed_chunks"]) >= 2
    assert join_ops._PERSISTED == [], "a chunk's persisted left outlived its write"
    assert not set(persistent().keys()) - before, "the backfill left persisted RDDs"
    assert spark.read.parquet(out).where("bf_counts_text_count_1d_max IS NOT NULL").count() > 0
