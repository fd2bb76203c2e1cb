"""Join-level resumability: per-part intermediate tables + a merge step,
each with its own partition-diffed lineage.

Reference shape (spark/.../batch/ModularMonolith.scala:29-120,
JoinPartJob.scala, MergeJob.scala:80-235): every JoinPart materializes into
its own table keyed by the left's row id; unfilled ranges are diffed PER
NODE, so a failed multi-part backfill resumes from the last good partition
of the last good part instead of restarting the whole join from zero.

Layout under ``output_path``:
  _parts/{part_prefix}/ds=YYYY-MM-DD/...   one table per join part
  _parts/{part_prefix}/_lineage.jsonl      per-part lineage (its own hash)
  merged/ds=YYYY-MM-DD/...                 merged output
  merged/_lineage.jsonl                    merge lineage (full-join hash)
(`merged/` is its own table directory so a merge-spec change archives ONLY
the merged table — the part tables survive and the rebuild reuses them.)

Row ids must be DETERMINISTIC across reruns (join.row_ids -> xxhash64),
otherwise a resumed part table could not line up with a previously merged
partition — the same reason the reference keys part tables on materialized
left rows.

Scale notes: each part chunk computes only against the left rows of that
chunk's date range (plus the part engine's own window lookback on the
right), and the merge is N equi-joins on the deterministic row id within
one date chunk — no cross-chunk shuffle. A spec change on ONE part
archives and recomputes only that part's table; the merge lineage hash
covers the full join, so merged partitions rebuild from the (mostly
already-filled) part tables.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zipline_chronon_spark.api import Join
from zipline_chronon_spark.operators import pit_join
from zipline_chronon_spark.operators.join import (
    ROW_ID,
    attach_part,
    bootstrap_tables,
    compute_part,
    derive,
    left_scan,
    uncovered,
)
from zipline_chronon_spark.plans.backfill import (
    MS_DAY,
    Lineage,
    _ds_to_ms,
    date_range,
    fill,
    spec_hash,
)


class JoinBackfill:
    """Chunked, resumable backfill of a multi-part Join over a date range
    (dates taken from the left's event time).

    Each part, then the merge, is one ``plans.backfill.fill`` node with its
    own table, lineage and spec hash. Their chunk frames are built from
    ``operators.join``'s own steps (``left_scan``, ``uncovered``,
    ``compute_part``, ``attach_part``, ``derive``), so the backfill and
    ``compute_join`` share one covering rule and one coalesced merge."""

    def __init__(
        self,
        spark: SparkSession,
        join: Join,
        output_path: str,
        num_partitions: Optional[int] = None,
        catalog=None,
    ):
        from zipline_chronon_spark.catalog import ParquetWarehouse

        if not join.row_ids:
            raise ValueError(
                "JoinBackfill needs deterministic join.row_ids (natural key "
                "columns) — a minted id cannot survive a kill-resume")
        self.spark = spark
        self.join = join
        self.output_path = output_path
        self.merged_path = os.path.join(output_path, "merged")
        self.num_partitions = num_partitions
        self.catalog = catalog or ParquetWarehouse(spark)
        self.merge_lineage = Lineage(os.path.join(self.merged_path, "_lineage.jsonl"))
        self.merge_hash = spec_hash(join)
        self._uniq_checked: set[tuple[str, str]] = set()
        self.part_paths: dict[str, str] = {}
        self.part_lineages: dict[str, Lineage] = {}
        self.part_hashes: dict[str, str] = {}
        for part in join.parts:
            p = part.full_prefix
            path = os.path.join(output_path, "_parts", p)
            self.part_paths[p] = path
            self.part_lineages[p] = Lineage(os.path.join(path, "_lineage.jsonl"))
            # a part's results depend on the left spec + the part spec
            self.part_hashes[p] = spec_hash((join.left, join.skew_keys, part))

    # -- left ---------------------------------------------------------------

    def _left_chunk(self, ds_from: str, ds_to: str) -> DataFrame:
        lo, hi = _ds_to_ms(ds_from), _ds_to_ms(ds_to) + MS_DAY
        left = left_scan(self.spark, self.join).where(
            (F.col(pit_join.TS_COL) >= lo) & (F.col(pit_join.TS_COL) < hi))
        left = left.withColumn(ROW_ID, F.xxhash64(*self.join.row_ids)).withColumn(
            "ds", F.date_format((F.col(pit_join.TS_COL) / 1000).cast("timestamp"),
                                "yyyy-MM-dd"))
        self._assert_unique_row_ids(left, ds_from, ds_to)
        return left

    def _assert_unique_row_ids(self, left: DataFrame, ds_from: str, ds_to: str) -> None:
        """The merge step equi-joins every part table on ROW_ID alone, so
        duplicate natural keys on the left (or a 64-bit hash collision) would
        silently FAN OUT the merged output. Mirror the reference's
        materialized-left-row contract with a named failure instead
        (MergeJob keys part tables on unique materialized left rows). One
        cheap aggregate per (chunk range), memoized across the per-part and
        merge uses of the same chunk."""
        rng = (ds_from, ds_to)
        if rng in self._uniq_checked:
            return
        row = left.agg(F.count(F.lit(1)).alias("n"),
                       F.countDistinct(ROW_ID).alias("d")).collect()[0]
        if row["n"] != row["d"]:
            raise ValueError(
                f"join.row_ids {self.join.row_ids} are not unique per left row "
                f"in [{ds_from}, {ds_to}]: {row['n']} rows but {row['d']} "
                f"distinct ROW_IDs — the ROW_ID merge would fan out. Use a "
                f"left key set that is unique per row (or deduplicate the "
                f"left source).")
        self._uniq_checked.add(rng)

    # -- nodes ----------------------------------------------------------------

    def _part_chunk(self, part, ds_from: str, ds_to: str) -> DataFrame:
        left = uncovered(part, self._left_chunk(ds_from, ds_to),
                         bootstrap_tables(self.spark, self.join))
        # bound the right scan to what this chunk's windows can see
        # (GroupBy.scala:741-788); unbounded windows need all history
        max_w = part.group_by.max_window_millis()
        scan_lo = None if max_w is None else _ds_to_ms(ds_from) - max_w
        if part.group_by.accuracy.name == "SNAPSHOT":
            time_range = None  # snapshot cell anchors at day-1; scan full
        else:
            time_range = (scan_lo, _ds_to_ms(ds_to) + MS_DAY - 1)
        part_df, key_cols = compute_part(
            self.spark, part, left, self.join.skew_keys, self.num_partitions,
            time_range_ms=time_range)
        if key_cols == [ROW_ID]:
            out = left.select(ROW_ID, "ds").join(part_df, ROW_ID)
        else:
            # snapshot part: resolve each right key to its left column for
            # the day-keyed attach, then project back to row-id shape
            inv = {r: l for l, r in part.key_mapping}
            need = [inv.get(r, r) for r in part.group_by.key_columns]
            out = attach_part(left.select(ROW_ID, "ds", pit_join.TS_COL, *need),
                              part_df, key_cols, part.left_to_right())
            feature_cols = [c for c in part_df.columns if c not in key_cols]
            out = out.select(ROW_ID, "ds", *feature_cols)
        return out

    def _merge_chunk(self, ds_from: str, ds_to: str) -> DataFrame:
        out = self._left_chunk(ds_from, ds_to)
        for bp, bdf in bootstrap_tables(self.spark, self.join):
            out = out.join(bdf, list(bp.key_columns), "left")
        chunk_ds = date_range(ds_from, ds_to)
        for part in self.join.parts:
            pdf = (self.catalog.read(self.part_paths[part.full_prefix])
                   .where(F.col("ds").cast("string").isin(chunk_ds))
                   .drop("ds"))
            out = attach_part(out, pdf, [ROW_ID], part.left_to_right())
        return derive(out, self.join, keep=("ds",)).drop(ROW_ID, pit_join.TS_COL)

    # -- driver ----------------------------------------------------------------

    def run(self, start_ds: str, end_ds: str, step_days: int = 30) -> dict:
        """Fill part tables (per-part diff), then merged partitions (merge
        diff), each through ``plans.backfill.fill`` with its lineage
        records tagged ``node``. Returns per-node computed chunks; a rerun
        after a kill recomputes only missing partitions of unfinished
        nodes."""
        computed: dict[str, list[dict]] = {}
        for part in self.join.parts:
            p = part.full_prefix
            computed[p] = fill(
                self.catalog, self.part_lineages[p], self.part_paths[p],
                self.part_hashes[p], start_ds, end_ds, step_days,
                lambda a, b, part=part: self._part_chunk(part, a, b), node=p,
            )["computed_chunks"]
        merged = fill(self.catalog, self.merge_lineage, self.merged_path,
                      self.merge_hash, start_ds, end_ds, step_days,
                      self._merge_chunk, node="merge")
        computed["merge"] = merged["computed_chunks"]
        return {"computed": computed, "skipped_merge_partitions": merged["skipped"]}
