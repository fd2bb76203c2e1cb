"""Resumable, chunked backfill with per-partition lineage + metrics.

Reimplements the reference's incremental-computation design
(unfilledRanges output-vs-input partition diffing,
catalog/TableUtils.scala:415-499; stepDays chunking, GroupBy.scala:898-921;
semantic-hash invalidation, JoinUtils.scala:293-329) on a partitioned
parquet warehouse (Iceberg-ready: every chunk is written by
``insert_chunk`` through the catalog seam in catalog.py — swap in
``IcebergCatalog`` when an Iceberg catalog is configured).

Contract (north rule):
 - rerunning a killed backfill recomputes ONLY missing date partitions,
 - output is byte-identical to an uninterrupted run (deterministic engine),
 - every chunk appends a lineage record: partition range, row count, wall
   seconds, spec hash, status — the per-partition metrics table,
 - a changed spec (semantic hash) invalidates all previous partitions.

Windows look back across chunk boundaries: each chunk scans events from
``chunk_start − maxWindow`` but emits feature rows only inside the chunk
(query_range_ms) — exactly the reference's window-aware source range
intersection (GroupBy.scala:741-788 getIntersectedRange).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import time
from datetime import date, datetime, timedelta, timezone
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from zipline_chronon_spark.api import GroupBy
from zipline_chronon_spark.operators import pit_join

MS_DAY = 86_400_000


def spec_hash(spec) -> str:
    """Semantic hash of a spec dataclass tree (JoinUtils.scala:293-329)."""

    def enc(o):
        if dataclasses.is_dataclass(o):
            return {f.name: enc(getattr(o, f.name)) for f in dataclasses.fields(o)}
        if isinstance(o, (list, tuple)):
            return [enc(x) for x in o]
        if hasattr(o, "name") and hasattr(o, "value"):  # enum
            return o.name
        if isinstance(o, dict):
            return {k: enc(v) for k, v in o.items()}
        return o

    return hashlib.md5(json.dumps(enc(spec), sort_keys=True).encode()).hexdigest()


def _ds_to_ms(ds: str) -> int:
    return int(datetime.strptime(ds, "%Y-%m-%d").replace(tzinfo=timezone.utc).timestamp() * 1000)


def _ms_to_ds(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime("%Y-%m-%d")


def date_range(start_ds: str, end_ds: str) -> list[str]:
    d0, d1 = date.fromisoformat(start_ds), date.fromisoformat(end_ds)
    return [(d0 + timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)]


class Lineage:
    """Append-only JSONL lineage log — one record per computed chunk with
    per-partition row counts and latency (the north-rule metrics table)."""

    def __init__(self, path: str):
        self.path = path

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def filled_partitions(self, expected_hash: str) -> set[str]:
        filled: set[str] = set()
        for r in self.records():
            if r["status"] == "success" and r["spec_hash"] == expected_hash:
                filled.update(r["partitions"])
        return filled

    def append(self, record: dict) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps(record) + "\n")


def insert_chunk(catalog, df: DataFrame, table: str, chunk: list[str],
                 partition_col: str = "ds") -> dict[str, int]:
    """Write one chunk through the catalog and return its row count per
    partition, counted by an ``Observation`` while the rows are written
    rather than by reading the table back. Days of ``chunk`` with no rows
    are left out."""
    pc = F.col(partition_col).cast("string")
    obs = Observation()
    df = df.observe(obs, *[F.count(F.when(pc == d, 1)).alias(d) for d in chunk])
    catalog.insert_partitions(df, table, partition_col=partition_col)
    return {d: int(n) for d, n in obs.get.items() if n}


def chunk_record(chunk: list[str], rows_per_ds: dict[str, int], t0: float,
                 h: str, **extra) -> dict:
    """The lineage record of one successfully written chunk."""
    return {
        **extra,
        "partitions": chunk,
        "rows_per_partition": rows_per_ds,
        "rows": sum(rows_per_ds.values()),
        "wall_sec": round(time.time() - t0, 3),
        "spec_hash": h,
        "status": "success",
        "finished_at": datetime.now(tz=timezone.utc).isoformat(),
    }


class GroupByBackfill:
    """Chunked self-enrichment backfill of a GroupBy over a date range.

    Output layout: ``{output_path}/ds=YYYY-MM-DD/...`` (dynamic partition
    overwrite). Lineage: ``{output_path}/_lineage.jsonl``.
    """

    def __init__(
        self,
        spark: SparkSession,
        gb: GroupBy,
        output_path: str,
        row_id_expr: str,
        passthrough: Optional[dict[str, str]] = None,
        num_partitions: Optional[int] = None,
        catalog=None,
    ):
        from zipline_chronon_spark.catalog import ParquetWarehouse

        self.spark = spark
        self.gb = gb
        self.output_path = output_path
        self.row_id_expr = row_id_expr
        self.passthrough = passthrough or {}
        self.num_partitions = num_partitions
        self.catalog = catalog or ParquetWarehouse(spark)
        self.lineage = Lineage(os.path.join(output_path, "_lineage.jsonl"))
        self.hash = spec_hash(gb)

    def unfilled(self, start_ds: str, end_ds: str) -> list[str]:
        """Output-vs-requested partition diff (unfilledRanges,
        TableUtils.scala:415-499): filled = lineage says success under the
        current spec hash AND the partition physically exists in the table
        (robust to manual partition deletion)."""
        want = date_range(start_ds, end_ds)
        have = self.lineage.filled_partitions(self.hash)
        if have:
            have &= set(self.catalog.partitions(self.output_path))
        return [ds for ds in want if ds not in have]

    @staticmethod
    def _chunks(ds_list: list[str], step_days: int) -> list[list[str]]:
        """Contiguous runs, each at most step_days long (PartitionRange.steps)."""
        out: list[list[str]] = []
        run: list[str] = []
        for ds in ds_list:
            if run and (date.fromisoformat(ds) - date.fromisoformat(run[-1])).days == 1 \
                    and len(run) < step_days:
                run.append(ds)
            else:
                if run:
                    out.append(run)
                run = [ds]
        if run:
            out.append(run)
        return out

    def _compute_chunk(self, ds_from: str, ds_to: str) -> DataFrame:
        q_lo = _ds_to_ms(ds_from)
        q_hi = _ds_to_ms(ds_to) + MS_DAY  # exclusive
        max_w = self.gb.max_window_millis()
        scan_lo = None if max_w is None else q_lo - max_w
        out = pit_join.compute_group_by_self(
            self.spark,
            self.gb,
            self.row_id_expr,
            passthrough={**self.passthrough, "__out_ts": "ts"},
            num_partitions=self.num_partitions,
            time_range_ms=(scan_lo, q_hi - 1),
            query_range_ms=(q_lo, q_hi),
        )
        return out.withColumn(
            "ds", F.date_format(F.col("__out_ts").cast("timestamp"), "yyyy-MM-dd")
        ).drop("__out_ts")

    def _archive_if_spec_changed(self) -> Optional[str]:
        """A changed semantic hash invalidates every existing partition:
        archive the table (TableUtils autoArchive / JoinUtils.scala:293-329
        tablesToRecompute) and start a fresh lineage under the new hash."""
        stale = [r for r in self.lineage.records()
                 if r["status"] == "success" and r["spec_hash"] != self.hash]
        if not stale:
            return None
        dest = self.catalog.archive(self.output_path, reason="spec_hash_changed")
        # lineage moved with the table directory; nothing else to reset
        return dest

    def run(self, start_ds: str, end_ds: str, step_days: int = 30) -> dict:
        archived = self._archive_if_spec_changed()
        todo = self.unfilled(start_ds, end_ds)
        done: list[dict] = []
        for chunk in self._chunks(todo, step_days):
            ds_from, ds_to = chunk[0], chunk[-1]
            t0 = time.time()
            rows_per_ds = insert_chunk(self.catalog, self._compute_chunk(ds_from, ds_to),
                                       self.output_path, chunk)
            rec = chunk_record(chunk, rows_per_ds, t0, self.hash)
            self.lineage.append(rec)
            done.append(rec)
        return {"computed_chunks": done,
                "archived": archived,
                "skipped": len(date_range(start_ds, end_ds)) - sum(
                    len(c["partitions"]) for c in done)}
