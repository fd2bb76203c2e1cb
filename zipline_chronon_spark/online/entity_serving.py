"""Online serving for TEMPORAL ENTITIES: snapshot batch state + streaming
CDC mutations, merged at fetch time.

Reference shape: the streaming tier decodes entity mutations
(``mutation_ts`` / ``is_before``) and writes them to the KV store
(streaming/GroupBy.scala:90-143 entity decode), and the fetcher replays
them against the batch snapshot state with the deletable-op sign rule
(SawtoothMutationAggregator.scala:28-228; BaseAggregator.delete throws for
non-deletable ops, BaseAggregator.scala:60-61). Without this path, entities
served online are stale to the last batch upload.

The batch state is the events tier's, step for step (online/fetcher.py):
snapshot rows of partition d-1 (the state at start-of-day d) go through
the same split (``_upload_frame``: per-key collapsed IR + tail-hop tiles
keyed by ROW ts) and the same writer (``bulk_load``), and EntityFetcher
reads a key through the same ``read_state`` — windows on entities measure
against row.ts, and window tails are hop-aligned, so tile selection at
fetch time (``window_irs``) equals the batch engine's exact
``row.ts >= round(T - w, tailHop)`` rule (hops nest). Mutations of day d
stream into ``{name}__mutations`` with a deterministic sequence (retried
uploads overwrite, not duplicate) and are read as the key's head rows,
then replay at fetch:

    windowed part:  tail <= row_ts < T  and  mutation_ts < T
    unbounded part:                          mutation_ts < T
    sign = -1 for before-images, +1 otherwise (SUM/COUNT/AVERAGE);
    non-deletable ops replay insert-only behind the same
    ``allow_insert_only`` guard as the batch tier.

Parity oracle (tests/test_entity_serving.py): EntityFetcher.fetch(key, T)
== compute_entities_temporal(... queries at T ...) for every key, with and
without reversals in the feed.
"""

from __future__ import annotations

import json
import math
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from zipline_chronon_spark.api import EntitySource, GroupBy, Operation
from zipline_chronon_spark.online import fetcher as fl
from zipline_chronon_spark.online.kv import KvStore, key_bytes
from zipline_chronon_spark.operators import pit_join
from zipline_chronon_spark.operators.entities_temporal import (
    DELETABLE,
    MUTATION_TS,
    REVERSAL,
)

MS_DAY = 86_400_000


def _project(df, gb: GroupBy, src: EntitySource):
    """keys + inputs + epoch-ms row ts, honoring the source query."""
    for w in src.query.wheres:
        df = df.where(w)
    selects = src.query.selects or {}
    keys = list(gb.key_columns)
    inputs = sorted({p.input_column for p in fl._parts(gb)})
    t_expr = F.expr(src.query.time_column)
    t_dt = df.select(t_expr.alias("t")).schema[0].dataType
    proj = [F.expr(selects.get(c, c)).alias(c) for c in keys + inputs]
    return df, proj, pit_join._time_to_millis(t_expr, t_dt), keys, inputs


def upload_entity_batch_state(kv: KvStore, spark: SparkSession, gb: GroupBy,
                              batch_day_ds: str) -> int:
    """Upload the snapshot partition serving day ``batch_day_ds`` (i.e.
    partition d-1: the state at start-of-day d) as collapsed IR + tail-hop
    tiles through the events tier's split and ``bulk_load`` (same datasets,
    encoding and meta rows; its ``batch_end_ms`` row is the batch day)."""
    from datetime import datetime, timezone

    (src,) = gb.sources
    assert isinstance(src, EntitySource), "entity serving needs an EntitySource"
    day_ms = int(datetime.strptime(batch_day_ds, "%Y-%m-%d")
                 .replace(tzinfo=timezone.utc).timestamp() * 1000)
    prev_ds = datetime.fromtimestamp((day_ms - MS_DAY) / 1000,
                                     tz=timezone.utc).strftime("%Y-%m-%d")
    snap = (pit_join._read_table(spark, src.snapshot_table)
            .where(F.expr(src.partition_column).cast("string") == prev_ds))
    snap, proj, ts_ms, _, _ = _project(snap, gb, src)
    ev = snap.select(*proj, ts_ms.alias(pit_join.TS_COL))
    return fl.bulk_load(kv, fl._upload_frame(gb, ev, day_ms), gb, day_ms)


def upload_mutation_events(kv: KvStore, spark: SparkSession, gb: GroupBy,
                           lo_ms: int, hi_ms: int) -> int:
    """CDC mutations with mutation_ts in (lo, hi] -> ``{name}__mutations``.
    Keys embed (key, mutation_ts, deterministic seq): at-least-once retried
    uploads overwrite rather than duplicate (same rule as the events tier)."""
    from pyspark.sql.window import Window as W

    (src,) = gb.sources
    assert src.mutation_table, "upload_mutation_events needs a mutation_table"
    mut = pit_join._read_table(spark, src.mutation_table)
    mut, proj, ts_ms, keys, inputs = _project(mut, gb, src)
    mts_dt = mut.select(F.col(MUTATION_TS).alias("t")).schema[0].dataType
    mts = pit_join._time_to_millis(F.col(MUTATION_TS), mts_dt)
    r = (mut.select(*proj, ts_ms.alias(pit_join.TS_COL),
                    mts.alias("__mts"),
                    F.col(REVERSAL).cast("boolean").alias("__rev"))
         .where((F.col("__mts") > lo_ms) & (F.col("__mts") <= hi_ms))
         .withColumn("__seq", F.row_number().over(
             W.partitionBy(*keys, "__mts")
              .orderBy(F.col("__rev"),
                       F.xxhash64(pit_join.TS_COL, *inputs)))))
    ds = f"{gb.name}__mutations"
    ts_col = pit_join.TS_COL

    def enc(d: dict) -> tuple[str, bytes, bytes]:
        key = (key_bytes(tuple(d[k] for k in keys))
               + b"|" + str(d["__mts"]).encode() + b"|" + str(d["__seq"]).encode())
        return (ds, key,
                json.dumps({"ts": d[ts_col], "mts": d["__mts"],
                            "sign": -1 if d["__rev"] else 1,
                            **{c: d[c] for c in inputs}}, default=float).encode())

    return kv.write_rows(r, enc)


def merge_mutation_state(parts, collapsed: Optional[dict],
                         tiles: list[tuple[int, dict]], mutations: list[dict],
                         T: int, allow_insert_only: bool = False) -> dict:
    """Entity-tier lambda merge: batch IRs ± CDC mutations, per part
    honoring its hop-aligned window tail on ROW ts and the strict
    ``mutation_ts < T`` head rule (compute_entities_temporal's exact rule,
    so offline == online). SUM/COUNT/AVERAGE honor before-image reversals
    (sign −1); all other ops replay insert-only and require
    ``allow_insert_only`` when the feed contains reversals."""
    has_rev = any(m.get("sign", 1) < 0 for m in mutations)
    out = {}
    for p in parts:
        nm, op = p.output_name, p.operation
        irs = fl.window_irs(p, collapsed, tiles, T)
        lo = p.window.tail_start(T) if p.window is not None else -math.inf
        evs = [m for m in mutations if m["mts"] < T and lo <= m["ts"] < T]
        if op in DELETABLE:
            out[nm] = _signed_scalar(p, irs, evs)
        else:
            if has_rev and not allow_insert_only:
                raise ValueError(
                    f"mutation feed contains before-images but {op.name} only "
                    "supports insert-only replay (reference "
                    "BaseAggregator.delete throws, BaseAggregator.scala:60-61)"
                    "; pass allow_insert_only=True to accept the "
                    "over-approximation")
            ins = [m for m in evs if m.get("sign", 1) > 0]
            out[nm] = fl.finalize_part(p, irs, ins)
    return out


def _signed_scalar(p, irs: list[dict], evs: list[dict]):
    """SUM/COUNT/AVERAGE with the sign rule AND the batch engine's null
    semantics: a feature whose live-row count is <= 0 after reversals is
    None (entities_temporal's deletable tier), not 0."""
    nm, op, col = p.output_name, p.operation, p.input_column
    pairs = [(m.get("sign", 1), m[col]) for m in evs if m.get(col) is not None]
    have = [ir for ir in irs if any(k.startswith(f"{nm}__") for k in ir)]
    if not have and not pairs:
        return None
    bc = sum(ir.get(f"{nm}__count", 0) for ir in have) \
        + sum(sg for sg, _ in pairs)
    if bc <= 0:
        return None
    if op == Operation.COUNT:
        return bc
    bs = sum(ir.get(f"{nm}__sum", 0) for ir in have) \
        + sum(sg * v for sg, v in pairs)
    return bs if op == Operation.SUM else bs / bc


class EntityFetcher:
    """Fetch-time merge for temporal entities: batch snapshot IRs + CDC
    mutation replay (the online analogue of compute_entities_temporal)."""

    def __init__(self, kv: KvStore, gb: GroupBy, allow_insert_only: bool = False):
        self.kv = kv
        self.gb = gb
        self.parts = fl._parts(gb)
        self.allow_insert_only = allow_insert_only
        bd = kv.get(f"{gb.name}__meta", b"batch_end_ms")
        self.batch_day_ms = int(bd) if bd is not None else None

    def fetch(self, key_values: tuple, at_ts_ms: int) -> dict:
        return self.fetch_batch([key_values], at_ts_ms)[0]

    def fetch_batch(self, key_tuples: list[tuple], at_ts_ms: int) -> list[dict]:
        """Many keys in one call: one ``read_state`` per key, so per-key
        results are identical to ``fetch``."""
        # batch snapshot tiles are not bounded by T at merge time, so a
        # fetch BEFORE the uploaded batch day would silently over-count
        # snapshot rows with ts > T — same assumption as the reference
        # fetcher (T >= batchEnd; Fetcher.scala lambda merge)
        if self.batch_day_ms is not None and at_ts_ms < self.batch_day_ms:
            raise ValueError(
                f"at_ts_ms={at_ts_ms} precedes the uploaded batch day "
                f"({self.batch_day_ms}); time-travel before the batch "
                f"snapshot is not servable from this state")
        return [merge_mutation_state(
                    self.parts,
                    *fl.read_state(self.kv, self.gb.name, "mutations", key_bytes(k)),
                    at_ts_ms, allow_insert_only=self.allow_insert_only)
                for k in key_tuples]
