"""StagingQuery: free-form Spark SQL with date macros.

Reference: thrift/api.thrift:69-110 (macros ``{{ start_date }}``,
``{{ end_date }}``, ``{{ latest_date }}``, ``{{ max_date(table=...) }}``),
executed by spark/.../batch/StagingQueryJob.scala with fill-what's-missing
range accounting (``plans.backfill.fill``, shared by every resumable job).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zipline_chronon_spark.operators.pit_join import _read_table
from zipline_chronon_spark.plans.backfill import Lineage, fill, spec_hash, unfilled

_MAX_DATE = re.compile(r"\{\{\s*max_date\(table=([^)]+)\)\s*\}\}")


@dataclass(frozen=True)
class StagingQuery:
    name: str
    query: str
    setups: tuple[str, ...] = ()


def _max_date(spark: SparkSession, table: str, partition_col: str = "ds") -> str:
    table = table.strip().strip("'\"")
    df = _read_table(spark, table)
    return str(df.agg(F.max(partition_col)).collect()[0][0])


def render(
    spark: SparkSession,
    sq: StagingQuery,
    start_date: str,
    end_date: str,
    latest_date: Optional[str] = None,
) -> str:
    q = sq.query
    q = re.sub(r"\{\{\s*start_date\s*\}\}", start_date, q)
    q = re.sub(r"\{\{\s*end_date\s*\}\}", end_date, q)
    q = re.sub(r"\{\{\s*latest_date\s*\}\}", latest_date or end_date, q)
    for m in set(_MAX_DATE.findall(q)):
        q = re.sub(r"\{\{\s*max_date\(table=" + re.escape(m) + r"\)\s*\}\}",
                   _max_date(spark, m), q)
    return q


def run(
    spark: SparkSession,
    sq: StagingQuery,
    start_date: str,
    end_date: str,
    latest_date: Optional[str] = None,
) -> DataFrame:
    for stmt in sq.setups:
        spark.sql(stmt)
    return spark.sql(render(spark, sq, start_date, end_date, latest_date))


class StagingQueryJob:
    """Fill-what's-missing StagingQuery materialization
    (StagingQueryJob.scala: compute only unfilled ranges; stepDays
    chunking) through ``plans.backfill.fill``, the planner every resumable
    job shares: partitions already written under the current query hash are
    skipped, a changed query archives the table, a killed run resumes from
    the last good partition, and each chunk's lineage record carries its
    per-partition row counts.

    The setups run once per ``run``, before the first chunk. Each chunk
    renders the query with that chunk's start/end macros, so a query that
    filters ``WHERE ds BETWEEN '{{ start_date }}' AND '{{ end_date }}'``
    recomputes exactly its missing days; its output must carry the
    partition column (default ``ds``), or the chunk raises a ValueError."""

    def __init__(self, spark: SparkSession, sq: StagingQuery, output_path: str,
                 partition_col: str = "ds", catalog=None):
        from zipline_chronon_spark.catalog import ParquetWarehouse

        self.spark = spark
        self.sq = sq
        self.output_path = output_path
        self.partition_col = partition_col
        self.catalog = catalog or ParquetWarehouse(spark)
        self.lineage = Lineage(os.path.join(output_path, "_lineage.jsonl"))
        self.hash = spec_hash(sq)

    def unfilled(self, start_ds: str, end_ds: str) -> list[str]:
        return unfilled(self.catalog, self.lineage, self.output_path, self.hash,
                        start_ds, end_ds)

    def run(self, start_ds: str, end_ds: str, step_days: int = 30,
            latest_date: Optional[str] = None) -> dict:
        for stmt in self.sq.setups:
            self.spark.sql(stmt)

        def chunk(ds_from: str, ds_to: str) -> DataFrame:
            df = self.spark.sql(render(self.spark, self.sq, ds_from, ds_to, latest_date))
            if self.partition_col not in df.columns:
                raise ValueError(
                    f"StagingQuery {self.sq.name} output lacks partition "
                    f"column '{self.partition_col}' — a resumable staging "
                    f"table must be date-partitioned (columns: {df.columns})")
            return df

        return fill(self.catalog, self.lineage, self.output_path, self.hash, start_ds,
                    end_ds, step_days, chunk, partition_col=self.partition_col)
