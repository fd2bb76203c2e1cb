"""Lineage row counts are observed while each chunk is written: for every
resumable job (GroupBy backfill, join backfill, staging query) a chunk's
``rows_per_partition`` equals the per-``ds`` row counts of the table as
written, and a day of the chunk with no rows is left out."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests import specs
from tests.test_join_backfill import _join
from zipline_chronon_spark.api import Aggregation, GroupBy, Operation
from zipline_chronon_spark.plans.backfill import GroupByBackfill, Lineage, date_range
from zipline_chronon_spark.plans.join_backfill import JoinBackfill
from zipline_chronon_spark.plans.staging import StagingQuery, StagingQueryJob
from zipline_chronon_spark.sources.transcripts import generate_transcripts

MS_DAY = 86_400_000
BASE = 19_200
# every job below runs in 2-day chunks over days whose third has no input
# rows, so that day shares a chunk with a day that has some
DAYS = [pd.Timestamp((BASE + d) * MS_DAY, unit="ms").strftime("%Y-%m-%d") for d in range(6)]


def _table_rows(spark, table: str) -> dict[str, int]:
    return {str(r["ds"]): r["n"] for r in spark.read.parquet(table)
            .groupBy(F.col("ds").cast("string").alias("ds"))
            .agg(F.count(F.lit(1)).alias("n")).collect()}


def _assert_lineage_matches(spark, table: str, empty: str) -> None:
    recs = Lineage(os.path.join(table, "_lineage.jsonl")).records()
    written = _table_rows(spark, table)
    assert recs and empty not in written
    for r in recs:
        assert r["rows_per_partition"] == {d: written[d] for d in r["partitions"]
                                           if d in written}
        assert r["rows"] == sum(r["rows_per_partition"].values())
    empty_chunk = [r for r in recs if empty in r["partitions"]]
    assert len(empty_chunk) == 1 and empty_chunk[0]["rows"] > 0


def test_group_by_backfill_lineage_counts(spark, tmp_path):
    pdf = generate_transcripts(n_convs=8, avg_turns=20, n_days=6, seed=5)
    days = date_range(pdf["ds"].min(), pdf["ds"].max())
    src = str(tmp_path / "transcripts.parquet")
    spark.createDataFrame(pdf[pdf["ds"] != days[2]]).write.parquet(src)
    gb = GroupBy(
        name="lineage_counts",
        sources=(specs.transcripts_source(src),),
        key_columns=("conv_id",),
        aggregations=(Aggregation("text", Operation.COUNT, windows=(specs.W1D,)),),
        tie_breaker_column="turn_idx",
    )
    out = str(tmp_path / "out")
    GroupByBackfill(spark, gb, out, "xxhash64(conv_id, turn_idx)").run(
        days[0], days[-1], step_days=2)
    _assert_lineage_matches(spark, out, days[2])


def test_join_backfill_lineage_counts(spark, tmp_path):
    rng = np.random.default_rng(29)
    n = 300
    day = rng.choice([0, 1, 3, 4, 5], n)
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, 5, n),
        "value": np.round(rng.random(n) * 10, 3),
        "ts": (BASE + day) * MS_DAY + rng.integers(0, MS_DAY, n),
        "event_id": np.arange(n),
    })
    src = str(tmp_path / "events.parquet")
    spark.createDataFrame(pdf).write.parquet(src)
    job = JoinBackfill(spark, _join(src), str(tmp_path / "out"))
    job.run(DAYS[0], DAYS[-1], step_days=2)
    for table in [*job.part_paths.values(), job.merged_path]:
        _assert_lineage_matches(spark, table, DAYS[2])


@pytest.mark.parametrize("ds_type", ["string", "date"])
def test_staging_job_lineage_counts(spark, tmp_path, ds_type):
    rows = [(d, i, float(i)) for n, d in enumerate(DAYS) if n != 2 for i in range(n + 1)]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows, "ds string, id int, v double").write.parquet(src)
    sq = StagingQuery(
        name="lineage_counts",
        query=f"""SELECT CAST(ds AS {ds_type}) AS ds, id, v FROM parquet.`{src}`
                  WHERE ds BETWEEN '{{{{ start_date }}}}' AND '{{{{ end_date }}}}'""",
    )
    out = str(tmp_path / "out")
    StagingQueryJob(spark, sq, out).run(DAYS[0], DAYS[-1], step_days=2)
    _assert_lineage_matches(spark, out, DAYS[2])
