"""StagingQuery: free-form Spark SQL with date macros.

Reference: thrift/api.thrift:69-110 (macros ``{{ start_date }}``,
``{{ end_date }}``, ``{{ latest_date }}``, ``{{ max_date(table=...) }}``),
executed by spark/.../batch/StagingQueryJob.scala with fill-what's-missing
range accounting (which our plans/backfill.py provides generically).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MAX_DATE = re.compile(r"\{\{\s*max_date\(table=([^)]+)\)\s*\}\}")


@dataclass(frozen=True)
class StagingQuery:
    name: str
    query: str
    setups: tuple[str, ...] = ()


def _max_date(spark: SparkSession, table: str, partition_col: str = "ds") -> str:
    table = table.strip().strip("'\"")
    df = spark.read.parquet(table) if "/" in table else spark.table(table)
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
    chunking): partitions already written under the current query hash are
    skipped, a changed query archives the table, and a killed run resumes
    from the last good partition — the same lineage/diff machinery as
    GroupByBackfill (plans/backfill.py), wired rather than rebuilt.

    The rendered query must emit the partition column (default ``ds``);
    each chunk renders with that chunk's start/end macros, so a query that
    filters ``WHERE ds BETWEEN '{{ start_date }}' AND '{{ end_date }}'``
    recomputes exactly its missing days."""

    def __init__(self, spark: SparkSession, sq: StagingQuery, output_path: str,
                 partition_col: str = "ds", catalog=None):
        import os

        from zipline_chronon_spark.catalog import ParquetWarehouse
        from zipline_chronon_spark.plans.backfill import Lineage, spec_hash

        self.spark = spark
        self.sq = sq
        self.output_path = output_path
        self.partition_col = partition_col
        self.catalog = catalog or ParquetWarehouse(spark)
        self.lineage = Lineage(os.path.join(output_path, "_lineage.jsonl"))
        self.hash = spec_hash(sq)

    def unfilled(self, start_ds: str, end_ds: str) -> list[str]:
        from zipline_chronon_spark.plans.backfill import date_range

        want = date_range(start_ds, end_ds)
        have = self.lineage.filled_partitions(self.hash)
        if have:
            have &= set(self.catalog.partitions(self.output_path))
        return [ds for ds in want if ds not in have]

    def run(self, start_ds: str, end_ds: str, step_days: int = 30,
            latest_date: Optional[str] = None) -> dict:
        import time

        from zipline_chronon_spark.plans.backfill import (
            GroupByBackfill,
            chunk_record,
            date_range,
            insert_chunk,
        )

        # changed query text/setups -> archive + full recompute
        stale = [r for r in self.lineage.records()
                 if r["status"] == "success" and r["spec_hash"] != self.hash]
        archived = (self.catalog.archive(self.output_path,
                                         reason="spec_hash_changed")
                    if stale else None)
        for stmt in self.sq.setups:
            self.spark.sql(stmt)
        done: list[dict] = []
        for chunk in GroupByBackfill._chunks(self.unfilled(start_ds, end_ds),
                                             step_days):
            ds_from, ds_to = chunk[0], chunk[-1]
            t0 = time.time()
            df = self.spark.sql(render(self.spark, self.sq, ds_from, ds_to,
                                       latest_date))
            if self.partition_col not in df.columns:
                raise ValueError(
                    f"StagingQuery {self.sq.name} output lacks partition "
                    f"column '{self.partition_col}' — a resumable staging "
                    f"table must be date-partitioned (columns: {df.columns})")
            rows_per_ds = insert_chunk(self.catalog, df, self.output_path, chunk,
                                       partition_col=self.partition_col)
            rec = chunk_record(chunk, rows_per_ds, t0, self.hash)
            self.lineage.append(rec)
            done.append(rec)
        return {"computed_chunks": done, "archived": archived,
                "skipped": len(date_range(start_ds, end_ds)) - sum(
                    len(c["partitions"]) for c in done)}
