"""Join-level resumability (ModularMonolith.scala:29-120 / MergeJob.scala):
each part materializes into its own partition-diffed table; a kill-resume
recomputes only the missing partitions of the unfinished nodes and the
final output is byte-equal to an uninterrupted run."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from zipline_chronon_spark.api import (
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    TimeUnit,
    Window,
)
from zipline_chronon_spark.plans.backfill import date_range, fill
from zipline_chronon_spark.plans.join_backfill import JoinBackfill

MS_DAY = 86_400_000
BASE = 19_200


@pytest.fixture(scope="module")
def jset(spark, tmp_path_factory):
    rng = np.random.default_rng(23)
    n = 400
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, 6, n),
        "value": np.round(rng.random(n) * 10, 3),
        "ts": BASE * MS_DAY + rng.integers(0, 6 * MS_DAY, n),
        "event_id": np.arange(n),
    })
    path = str(tmp_path_factory.mktemp("jbf") / "events.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    ds_min = pd.Timestamp(BASE * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    ds_max = pd.Timestamp((BASE + 5) * MS_DAY, unit="ms").strftime("%Y-%m-%d")
    return path, ds_min, ds_max


def _join(path) -> Join:
    src = EventSource(table=path, query=Query(time_column="ts"))
    temporal = GroupBy(
        name="tmp", sources=(src,), key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window(1, TimeUnit.DAYS),)),
            Aggregation("value", Operation.COUNT, windows=(None,)),
        ),
        tie_breaker_column="event_id",
    )
    snap = GroupBy(
        name="snp", sources=(src,), key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.SUM,
                                  windows=(Window(2, TimeUnit.DAYS),)),),
        accuracy=Accuracy.SNAPSHOT,
        tie_breaker_column="event_id",
    )
    return Join(
        name="jb",
        left=EventSource(table=path, query=Query(
            time_column="ts", selects={"event_id": "event_id",
                                       "user_id": "user_id"})),
        parts=(JoinPart(group_by=temporal), JoinPart(group_by=snap)),
        row_ids=("event_id",),
    )


def _read(spark, path):
    return (spark.read.parquet(path + "/merged")
            .select("event_id", "tmp_value_sum_1d", "tmp_value_count",
                    "snp_value_sum_2d")
            .orderBy("event_id").toPandas())


def test_kill_resume_recomputes_only_missing(spark, jset, tmp_path_factory):
    path, ds_min, ds_max = jset
    out_a = str(tmp_path_factory.mktemp("jbf") / "whole")
    out_b = str(tmp_path_factory.mktemp("jbf") / "resumed")

    # A: uninterrupted
    JoinBackfill(spark, _join(path), out_a).run(ds_min, ds_max, step_days=365)
    a = _read(spark, out_a)
    assert len(a) == 400

    # B: simulate a kill — part 1 fully done, part 2 half done, no merge
    job = JoinBackfill(spark, _join(path), out_b)
    days = date_range(ds_min, ds_max)
    fill(job.catalog, job.part_lineages["tmp"], job.part_paths["tmp"],
         job.part_hashes["tmp"], ds_min, ds_max, 365,
         lambda a_, b_: job._part_chunk(job.join.parts[0], a_, b_), node="tmp")
    fill(job.catalog, job.part_lineages["snp"], job.part_paths["snp"],
         job.part_hashes["snp"], ds_min, days[2], 365,
         lambda a_, b_: job._part_chunk(job.join.parts[1], a_, b_), node="snp")

    # resume: full run must skip part-1 entirely and only fill snp's tail
    res = job.run(ds_min, ds_max, step_days=365)
    assert res["computed"]["tmp"] == [], "finished part recomputed"
    snp_filled = [ds for c in res["computed"]["snp"] for ds in c["partitions"]]
    assert sorted(snp_filled) == days[3:], "resume recomputed filled partitions"
    merge_filled = [ds for c in res["computed"]["merge"] for ds in c["partitions"]]
    assert sorted(merge_filled) == days

    b = _read(spark, out_b)
    pd.testing.assert_frame_equal(a, b)

    # idempotent rerun: nothing recomputed anywhere
    res2 = job.run(ds_min, ds_max, step_days=365)
    assert all(v == [] for v in res2["computed"].values())
    assert res2["skipped_merge_partitions"] == len(days)


def test_part_spec_change_recomputes_one_part(spark, jset, tmp_path_factory):
    import dataclasses

    path, ds_min, ds_max = jset
    out = str(tmp_path_factory.mktemp("jbf") / "spec")
    j = _join(path)
    JoinBackfill(spark, j, out).run(ds_min, ds_max, step_days=365)

    # change ONE part's window: only that part table (and the merge) rebuild
    p0 = j.parts[0]
    gb2 = dataclasses.replace(
        p0.group_by,
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(Window(2, TimeUnit.DAYS),)),
            Aggregation("value", Operation.COUNT, windows=(None,)),
        ))
    j2 = dataclasses.replace(j, parts=(dataclasses.replace(p0, group_by=gb2),
                                       j.parts[1]))
    job2 = JoinBackfill(spark, j2, out)
    res = job2.run(ds_min, ds_max, step_days=365)
    days = date_range(ds_min, ds_max)
    assert [ds for c in res["computed"]["tmp"] for ds in c["partitions"]] == days
    assert res["computed"]["snp"] == [], "unchanged part recomputed"
    assert [ds for c in res["computed"]["merge"] for ds in c["partitions"]] == days
    got = spark.read.parquet(out + "/merged").select("tmp_value_sum_2d").count()
    assert got == 400


def test_backfill_covering_set_prunes_part_tables(spark, jset, tmp_path_factory):
    """A bootstrap table providing part `tmp`'s full output schema for half
    the left rows: those rows must be absent from tmp's part table and
    carry the bootstrap sentinel in the merged output, while part `snp`
    (not covered) computes everywhere."""
    import dataclasses

    from zipline_chronon_spark.api import BootstrapPart
    from pyspark.sql import functions as F

    path, ds_min, ds_max = jset
    base = tmp_path_factory.mktemp("jbfc")
    out = str(base / "out")

    boot = (spark.read.parquet(path).where("event_id % 2 = 0")
            .select("event_id",
                    F.lit(-5.0).alias("tmp_value_sum_1d"),
                    F.lit(-7).cast("long").alias("tmp_value_count")))
    bpath = str(base / "boot.parquet")
    boot.write.mode("overwrite").parquet(bpath)
    n_cov = boot.count()

    j = dataclasses.replace(
        _join(path),
        bootstrap_parts=(BootstrapPart(table=bpath, key_columns=("event_id",)),))
    JoinBackfill(spark, j, out).run(ds_min, ds_max, step_days=365)

    part_rows = spark.read.parquet(out + "/_parts/tmp").count()
    assert part_rows == 400 - n_cov, "covered rows reached the part engine"
    assert spark.read.parquet(out + "/_parts/snp").count() == 400

    got = (spark.read.parquet(out + "/merged")
           .select("event_id", "tmp_value_sum_1d", "tmp_value_count",
                   "snp_value_sum_2d")
           .orderBy("event_id").toPandas())
    cov = got[got.event_id % 2 == 0]
    unc = got[got.event_id % 2 == 1]
    assert (cov["tmp_value_sum_1d"] == -5.0).all()
    assert (cov["tmp_value_count"] == -7).all()
    assert (unc["tmp_value_count"].dropna() != -7).all()
    assert got["snp_value_sum_2d"].notna().sum() > 0
