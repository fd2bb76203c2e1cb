"""Table-format catalog seam (Iceberg-shaped).

The reference isolates every table-format concern behind Format /
FormatProvider (spark/.../catalog/{Format,FormatProvider,Iceberg}.scala:
14-101) and routes all writes through TableUtils (TableUtils.scala:287-358:
insertPartitions with autoExpand schema evolution, partition listing,
archival on semantic change). This module is the same seam for this
engine:

 - Catalog: the contract — partition listing, dynamic partition
   overwrite with autoExpand (new df columns extend the table; columns
   the df lacks are null-filled), reads that see the evolved schema, and
   whole-table archival (the semantic-hash invalidation path,
   JoinUtils.scala:293-329).
 - ParquetWarehouse: the sandbox-runnable implementation over partitioned
   parquet directories (mergeSchema reads stand in for Iceberg's schema
   registry; each insert leaves the table's columns in ``_schema.json``,
   so the next insert's autoExpand opens no footer).
 - IcebergCatalog: the production implementation expressed through
   Spark's DataSourceV2 API (writeTo().overwritePartitions(), ALTER TABLE
   ADD COLUMNS) — requires an Iceberg runtime jar + configured catalog,
   which this sandbox does not ship, so constructing it without one
   raises with a clear message. Its method bodies are the real calls, not
   stubs, and the backfill/test suite runs entirely through the seam so
   swapping catalogs is a constructor change.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from abc import ABC, abstractmethod
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class Catalog(ABC):
    """Format-agnostic table operations (reference Format.scala contract)."""

    @abstractmethod
    def exists(self, table: str) -> bool: ...

    @abstractmethod
    def read(self, table: str) -> DataFrame: ...

    @abstractmethod
    def partitions(self, table: str, partition_col: str = "ds") -> list[str]:
        """Distinct partition values, from metadata where the format has it
        (Iceberg partitions table / directory listing) — never a full scan."""

    @abstractmethod
    def insert_partitions(self, df: DataFrame, table: str,
                          partition_col: str = "ds") -> None:
        """Dynamic partition overwrite with autoExpand: columns new in df
        are added to the table schema; table columns missing from df are
        written as nulls (TableUtils.autoExpand, :287-358)."""

    @abstractmethod
    def archive(self, table: str, reason: str = "") -> Optional[str]:
        """Move the table aside (semantic-hash invalidation); returns the
        archive identifier or None if the table did not exist."""


class ParquetWarehouse(Catalog):
    """Partitioned-parquet implementation: table name = directory path."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def exists(self, table: str) -> bool:
        if not os.path.isdir(table):
            return False
        for entry in os.scandir(table):
            if entry.name.startswith(("_", ".")):
                continue
            return True
        return False

    def read(self, table: str) -> DataFrame:
        # mergeSchema = the parquet stand-in for Iceberg's evolved schema
        return self.spark.read.option("mergeSchema", "true").parquet(table)

    def partitions(self, table: str, partition_col: str = "ds") -> list[str]:
        if not os.path.isdir(table):
            return []
        pat = re.compile(re.escape(partition_col) + r"=(.+)$")
        out = []
        for entry in os.scandir(table):
            m = pat.match(entry.name)
            if m and entry.is_dir():
                out.append(m.group(1))
        return sorted(out)

    SCHEMA_FILE = "_schema.json"  # Spark's reader skips "_" files

    def insert_partitions(self, df: DataFrame, table: str,
                          partition_col: str = "ds") -> None:
        if self.exists(table):
            df = self._auto_expand(df, table)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(table)
        )
        # the table's columns after this insert (the old ones, which
        # _auto_expand carried into df, and the new ones): the next insert
        # reads them here instead of opening every footer of the table
        tmp = os.path.join(table, f".{self.SCHEMA_FILE}.tmp")
        with open(tmp, "w") as f:
            f.write(df.schema.json())
        os.replace(tmp, os.path.join(table, self.SCHEMA_FILE))

    def _auto_expand(self, df: DataFrame, table: str) -> DataFrame:
        path = os.path.join(table, self.SCHEMA_FILE)
        if os.path.exists(path):
            with open(path) as f:
                existing = StructType.fromJson(json.load(f))
        else:  # written elsewhere: merge the footers' schemas
            existing = self.read(table).schema
        have = {f.name for f in df.schema.fields}
        # table columns the incoming frame lacks -> null-filled (autoExpand
        # keeps old columns alive); new df columns simply extend the schema
        for f in existing.fields:
            if f.name not in have:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    def archive(self, table: str, reason: str = "") -> Optional[str]:
        if not os.path.isdir(table):
            return None
        stamp = datetime.now(tz=timezone.utc).strftime("%Y%m%d%H%M%S%f")
        dest = f"{table.rstrip('/')}_archive_{stamp}"
        os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
        shutil.move(table, dest)
        return dest


class IcebergCatalog(Catalog):
    """Iceberg tables through Spark DSv2 (Iceberg.scala:14-101 parity).

    Requires iceberg-spark-runtime on the classpath and a configured
    catalog (spark.sql.catalog.<name>). Table names are catalog
    identifiers, not paths."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        try:
            spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: B018
        except Exception as exc:  # pragma: no cover — no jar in sandbox
            raise RuntimeError(
                "IcebergCatalog needs iceberg-spark-runtime on the Spark "
                "classpath and a configured spark.sql.catalog.<name>; use "
                "ParquetWarehouse in jar-less environments") from exc

    def exists(self, table: str) -> bool:  # pragma: no cover — needs jar
        return self.spark.catalog.tableExists(table)

    def read(self, table: str) -> DataFrame:  # pragma: no cover
        return self.spark.table(table)

    def partitions(self, table: str, partition_col: str = "ds") -> list[str]:  # pragma: no cover
        rows = self.spark.sql(f"SELECT partition.{partition_col} AS p "
                              f"FROM {table}.partitions").collect()
        return sorted({r["p"] for r in rows})

    def insert_partitions(self, df: DataFrame, table: str,
                          partition_col: str = "ds") -> None:  # pragma: no cover
        if self.exists(table):
            existing = {f.name for f in self.read(table).schema.fields}
            new_cols = [f for f in df.schema.fields if f.name not in existing]
            if new_cols:  # autoExpand: evolve the table schema first
                cols_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                                     for f in new_cols)
                self.spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({cols_ddl})")
            for f in self.read(table).schema.fields:
                if f.name not in {x.name for x in df.schema.fields}:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            df.writeTo(table).overwritePartitions()
        else:
            df.writeTo(table).partitionedBy(F.col(partition_col)).create()

    def archive(self, table: str, reason: str = "") -> Optional[str]:  # pragma: no cover
        if not self.exists(table):
            return None
        stamp = datetime.now(tz=timezone.utc).strftime("%Y%m%d%H%M%S%f")
        dest = f"{table}_archive_{stamp}"
        self.spark.sql(f"ALTER TABLE {table} RENAME TO {dest}")
        return dest
