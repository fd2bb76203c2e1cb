"""Join orchestration: left ⋈ N GroupBy parts, point-in-time correct.

Mirrors the reference's modular join pipeline (SourceJob → JoinPartJob × N →
MergeJob → JoinDerivationJob; spark/.../batch/{SourceJob,JoinPartJob,
MergeJob,JoinDerivationJob}.scala, JoinBase.scala:251-404) in a single
declarative Spark plan:

 - left scan with filters (SourceJob.scala:28-70),
 - skew-key exclusion as NOT-IN predicates on both sides
   (JoinUtils.scala:331-383),
 - each part via the skew-free PIT engine (pit_join.py), feature columns
   prefixed ``{prefix}_{group_by_name}_{col}`` (api.thrift:425-432),
 - merge = left-outer equi-join on the row id with coalesce for collisions
   (JoinUtils.scala:159-190 coalescedJoin, MergeJob.scala:80-235),
 - derivations as selectExpr with "*" wildcard support
   (Extensions.scala DerivationOps, Join.scala:401-462).

The part joins are cheap by construction: both sides are keyed by the row
id we minted on the left, so AQE plans them as shuffle joins on an already
co-partitioned key; the expensive shuffle (events ∪ queries) happens once
per part inside the PIT engine.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zipline_chronon_spark.api import Accuracy, EntitySource, EventSource, Join
from zipline_chronon_spark.operators import pit_join

ROW_ID = pit_join.ROW_ID
MS_DAY = 86_400_000

# persisted-subtree registry (same lifecycle idiom as operators/dedup.py):
# compute_join pins a minted-id left when a TEMPORAL part's features join
# back on that id; it must stay cached until the join OUTPUT is materialized
# (the persist is what makes monotonically_increasing_id stable across plan
# branches), after which a long-lived session should call release_caches().
# plans.backfill.fill does so after every chunk it writes, for every
# resumable job (a GroupBy over a JoinSource runs compute_join per chunk).
_PERSISTED: list[DataFrame] = []


def release_caches() -> None:
    """Unpersist every frame pinned by compute_join.

    Only call AFTER the join result has been materialized (written or
    collected): the persisted frames pin minted row ids, and dropping them
    earlier would re-mint ids differently per plan branch."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def _snapshot_events_part(
    spark: SparkSession,
    gb,
    left: DataFrame,
    mapping: dict[str, str],
    num_partitions: Optional[int],
) -> DataFrame:
    """(EVENTS-left, EVENTS-right, SNAPSHOT accuracy) join cell: the left
    row on ts-day d sees features as of END-OF-DAY(d-1) — the reference
    runs snapshotEvents over the partition range shifted -1 day and joins
    on ts_ds with a +1-day realignment (JoinPartJob.scala:217-247 case at
    :220; JoinBase.scala:66-125 joinWithLeft TimePartitionColumn branch).

    Spark-first shape: aggregate ONCE per distinct (key, ts-day) demanded
    by the left (not per left row, and not for days nobody asks about),
    anchored at q_ts = day*MS_DAY - 1 == 23:59:59.999 of day d-1 (the
    engine's head rule is ts <= T inclusive, matching the reference's
    end-of-day snapshot). Returns (right keys..., __day, features...)."""
    right_keys = list(gb.key_columns)
    left_col = {r: l for l, r in mapping.items()}  # right key -> left col
    day = (F.col(pit_join.TS_COL) / MS_DAY).cast("long")
    qd = left.select(
        *[F.col(left_col.get(r, r)).alias(r) for r in right_keys],
        day.alias("__day"),
    ).distinct()
    qd = qd.withColumn("__q_ts", F.col("__day") * MS_DAY - F.lit(1))
    # deterministic row id + engine passthrough of (keys, __day): no join
    # back on the id, so no persist/count materialization pass is needed
    # (the old monotonically_increasing_id had to be pinned across the two
    # plan branches of qd ⋈ feats)
    qd = qd.withColumn(ROW_ID, F.xxhash64(*right_keys, F.col("__day")))
    feats = pit_join.compute_group_by(
        spark, gb, qd, row_id=ROW_ID, query_time_col="__q_ts",
        num_partitions=num_partitions,
        passthrough_cols=[*right_keys, "__day"],
    )
    return feats.drop(ROW_ID)


def _snapshot_entities_part(spark: SparkSession, gb,
                            num_partitions: Optional[int]) -> DataFrame:
    """(EVENTS-left, ENTITIES-right, SNAPSHOT): snapshot partition ds
    serves left rows of ts-day ds+1 (JoinPartJob.scala:243
    genGroupBy(shiftedPartitionRange).snapshotEntities + the same +1-day
    ts_ds realignment). Returns (right keys..., __day, features...)."""
    snap = pit_join.compute_entity_snapshot(spark, gb, num_partitions)
    served_day = (
        F.unix_millis(F.to_timestamp(F.col("ds"), "yyyy-MM-dd")) / MS_DAY
    ).cast("long") + 1
    return snap.withColumn("__day", served_day).drop("ds")


def _sql_literal(v) -> str:
    if isinstance(v, str):
        escaped = v.replace("'", "''")
        return f"'{escaped}'"
    return str(v)


def skew_filter(col: str, values: tuple) -> str:
    lits = ", ".join(_sql_literal(v) for v in values)
    return f"({col} IS NULL OR {col} NOT IN ({lits}))"


def render_left(spark: SparkSession, src: EventSource) -> DataFrame:
    """Left scan: apply wheres, project selects (or all columns), keep the
    original time column AND a normalized epoch-millis __ts."""
    df = pit_join._read_table(spark, src.table)
    for w in src.query.wheres:
        df = df.where(w)
    time_expr = F.expr(src.query.time_column)
    time_dt = df.select(time_expr.alias("t")).schema[0].dataType
    ts_ms = pit_join._time_to_millis(time_expr, time_dt)
    if src.query.selects:
        cols = [F.expr(e).alias(n) for n, e in src.query.selects.items()]
    else:
        cols = [F.col(c) for c in df.columns]
    return df.select(*cols, ts_ms.alias(pit_join.TS_COL))


def _with_skew_wheres(gb, skew_keys: tuple, mapping: dict[str, str]):
    """Push skew exclusion to the right side too (maps left col -> right
    key); returns gb unchanged when no skew key applies."""
    import dataclasses

    extra_wheres = []
    for col, values in skew_keys:
        rcol = mapping.get(col, col)
        if rcol in gb.key_columns:
            extra_wheres.append(skew_filter(rcol, values))
    if not extra_wheres:
        return gb
    return dataclasses.replace(
        gb,
        sources=tuple(
            dataclasses.replace(
                s, query=dataclasses.replace(s.query, wheres=s.query.wheres + tuple(extra_wheres))
            )
            for s in gb.sources
        ),
    )


def compute_part(
    spark: SparkSession,
    part,
    left: DataFrame,
    skew_keys: tuple = (),
    num_partitions: Optional[int] = None,
    time_range_ms: Optional[tuple] = None,
) -> tuple[DataFrame, list[str]]:
    """One join part against a prepared left (must carry ROW_ID, TS_COL and
    the mapped key columns). Feature columns come back prefixed
    ``{prefix}_{group_by}_{col}``. Returns (part_df, join_key_cols):
    TEMPORAL parts are keyed [ROW_ID]; SNAPSHOT parts are keyed
    [*right keys, '__day'] (join with attach_part). Shared by compute_join
    and the resumable JoinBackfill (plans/join_backfill.py) so the two
    paths cannot drift semantically."""
    mapping = part.left_to_right()
    gb = _with_skew_wheres(part.group_by, skew_keys, mapping)
    if gb.accuracy == Accuracy.SNAPSHOT:
        # day-keyed snapshot cell: features anchored at end-of-day(d-1)
        if all(isinstance(s, EntitySource) for s in gb.sources):
            part_df = _snapshot_entities_part(spark, gb, num_partitions)
        else:
            part_df = _snapshot_events_part(spark, gb, left, mapping,
                                            num_partitions)
        key_cols = list(gb.key_columns) + ["__day"]
    else:
        part_df = pit_join.compute_group_by(
            spark,
            gb,
            left,
            row_id=ROW_ID,
            key_mapping=mapping,
            query_time_col=pit_join.TS_COL,
            num_partitions=num_partitions,
            time_range_ms=time_range_ms,
        )
        key_cols = [ROW_ID]
    prefix = part.full_prefix
    for c in list(part_df.columns):
        if c not in key_cols:
            part_df = part_df.withColumnRenamed(c, f"{prefix}_{c}")
    return part_df, key_cols


def attach_part(out: DataFrame, part_df: DataFrame, key_cols: list[str],
                mapping: dict[str, str]) -> DataFrame:
    """Left-join a computed part (or a part table) onto a frame carrying
    ROW_ID + TS_COL + the left key columns, as coalescedJoin
    (JoinUtils.scala:159-190): a feature column already present (from a
    bootstrap table) keeps its value and falls back to the fresh one.
    SNAPSHOT parts join on (mapped keys, ts-day) — null-safe on keys so a
    null-keyed left row behaves like the TEMPORAL path (features stay null
    via the left join)."""
    collisions = [c for c in part_df.columns if c not in key_cols and c in out.columns]
    for c in collisions:
        part_df = part_df.withColumnRenamed(c, f"__fresh_{c}")
    if key_cols == [ROW_ID]:
        out = out.join(part_df, ROW_ID, "left")
    else:
        left_col = {r: l for l, r in mapping.items()}
        pk = {c: f"__pk_{i}" for i, c in enumerate(key_cols)}
        for c, a in pk.items():
            part_df = part_df.withColumnRenamed(c, a)
        lday = (out[pit_join.TS_COL] / MS_DAY).cast("long")
        cond = lday == part_df[pk["__day"]]
        for r in key_cols:
            if r == "__day":
                continue
            cond = cond & out[left_col.get(r, r)].eqNullSafe(part_df[pk[r]])
        out = out.join(part_df, cond, "left").drop(*pk.values())
    for c in collisions:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__fresh_{c}"))).drop(f"__fresh_{c}")
    return out


def left_scan(spark: SparkSession, join: Join) -> DataFrame:
    """The join's left (render_left) without its skew keys."""
    left = render_left(spark, join.left)
    for col, values in join.skew_keys:
        left = left.where(skew_filter(col, values))
    return left


def bootstrap_tables(spark: SparkSession, join: Join) -> list[tuple]:
    """(part, frame) for each bootstrap part: its table under its wheres."""
    out = []
    for bp in join.bootstrap_parts:
        bdf = pit_join._read_table(spark, bp.table)
        for w in bp.wheres:
            bdf = bdf.where(w)
        out.append((bp, bdf))
    return out


def uncovered(part, left: DataFrame, bootstraps: list[tuple]) -> DataFrame:
    """Covering-set pruning (Join.scala:130-193, a NOT IN on the matched
    keys at Join.scala:48-59): a left row matched by a bootstrap table that
    provides ALL of this part's output columns already has its values, so
    only the other rows reach the part engine. The output is unchanged; the
    win is skipped compute when coverage is high."""
    expected = {f"{part.full_prefix}_{ap.output_name}" for ap in part.group_by.parts()}
    for bp, bdf in bootstraps:
        if expected <= set(bdf.columns) - set(bp.key_columns):
            left = left.join(bdf.select(*bp.key_columns), list(bp.key_columns), "left_anti")
    return left


def derive(out: DataFrame, join: Join, keep: tuple = ()) -> DataFrame:
    """The join's derivations over the merged frame; TS_COL, ROW_ID,
    ``keep`` and the left's selects survive a derivation list without "*"."""
    if not join.derivations:
        return out
    from zipline_chronon_spark.operators.derive import apply_derivations

    keep = [pit_join.TS_COL, ROW_ID, *keep,
            *dict.fromkeys(n for n in (join.left.query.selects or {}) if n in out.columns)]
    return apply_derivations(out, join.derivations, always_keep=keep)


def compute_join(
    spark: SparkSession,
    join: Join,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    left = left_scan(spark, join)

    # row id: user-specified rowIds (api.thrift:434-436) or a minted id.
    # monotonically_increasing_id is only stable within one plan execution,
    # so we persist the left to pin it (the reference instead materializes
    # the left to a table — same idea, Spark-native). The pin is only
    # NEEDED when the minted id crosses plan branches (a TEMPORAL part's
    # feature frame joins back on it); a SNAPSHOT-only join merges on
    # (keys, day), so the id never leaves this one plan and the
    # persist+count materialization pass is skipped.
    minted = not join.row_ids
    if minted:
        left = left.withColumn(ROW_ID, F.monotonically_increasing_id())
        if any(p.group_by.accuracy != Accuracy.SNAPSHOT for p in join.parts):
            left = left.persist()
            _PERSISTED.append(left)
            left.count()  # materialize so every branch sees identical ids
    else:
        rid = F.xxhash64(*join.row_ids)
        left = left.withColumn(ROW_ID, rid)

    # bootstrap: pre-fill feature columns from precomputed tables; joined
    # FIRST so attach_part's coalesce gives bootstrap values precedence
    # (JoinBootstrapJob.scala)
    bootstraps = bootstrap_tables(spark, join)
    out = left
    for bp, bdf in bootstraps:
        out = out.join(bdf, list(bp.key_columns), "left")

    # ---- fuse adjacent TEMPORAL parts sharing one engine pass ------------
    # N parts over the SAME sources/keys/tie rule each pay a full
    # events∪queries shuffle plus a merge join; their aggregations can run
    # in ONE PIT pass and attach with ONE join (guide §2.4: remove shuffles
    # outright). Fusion is skipped whenever anything could observe the
    # difference: SNAPSHOT parts (different join keys), GroupBy-level
    # derivations (input space is the single GroupBy), bootstrap joins
    # (covering-set feeds parts row-subsets), or output-name collisions
    # between non-identical aggregations.
    import dataclasses

    def _fuse_sig(part):
        gb = part.group_by
        if gb.accuracy == Accuracy.SNAPSHOT or gb.derivations \
                or join.bootstrap_parts:
            return None
        return (gb.sources, gb.key_columns, gb.tie_breaker_column,
                tuple(sorted(part.left_to_right().items())))

    runs: list[tuple] = []
    for part in join.parts:
        sig = _fuse_sig(part)
        if runs and sig is not None and runs[-1][0] == sig:
            runs[-1][1].append(part)
        else:
            runs.append((sig, [part]))

    def _fused_frame(parts_run, carry: list[str]) -> Optional[DataFrame]:
        """One engine pass for a run of fusable parts: (ROW_ID, the
        ``carry`` left columns passed through the engine, every part's
        prefixed features), or None when two different aggregations share
        an output name."""
        aggs: list = []
        for p in parts_run:
            for a in p.group_by.aggregations:
                if a not in aggs:
                    aggs.append(a)
        base = parts_run[0]
        fused_gb = dataclasses.replace(base.group_by, aggregations=tuple(aggs))
        try:
            fused_gb.parts()
        except ValueError:
            return None  # same output name from different aggregations
        mapping = base.left_to_right()
        feats = pit_join.compute_group_by(
            spark, _with_skew_wheres(fused_gb, join.skew_keys, mapping), left,
            row_id=ROW_ID, key_mapping=mapping,
            query_time_col=pit_join.TS_COL, num_partitions=num_partitions,
            passthrough_cols=carry)
        sel = [F.col(ROW_ID)] + [F.col(c) for c in carry]
        for p in parts_run:
            for ap in p.group_by.parts():
                sel.append(F.col(ap.output_name)
                           .alias(f"{p.full_prefix}_{ap.output_name}"))
        return feats.select(*sel)

    # When ONE temporal engine pass covers EVERY part (and key names need no
    # mapping), the left's columns ride through the engine as passthrough
    # and the merge join on the row id disappears — the whole join is scan
    # → one events∪left shuffle → serve. The select matches the join-based
    # layout exactly: a USING join emits the join key first, then the
    # left's other columns, then the part columns.
    if len(runs) == 1 and runs[0][0] is not None:
        parts_run = runs[0][1]
        feat_names = [f"{p.full_prefix}_{ap.output_name}"
                      for p in parts_run for ap in p.group_by.parts()]
        if (all(l == r for l, r in parts_run[0].left_to_right().items())
                and len(set(feat_names)) == len(feat_names)
                and not set(feat_names) & set(left.columns)):
            joinless = _fused_frame(parts_run, [c for c in left.columns if c != ROW_ID])
            if joinless is not None:
                runs, out = [], joinless

    for sig, parts_run in runs:
        fused = _fused_frame(parts_run, []) if len(parts_run) > 1 else None
        if fused is not None:
            out = attach_part(out, fused, [ROW_ID], parts_run[0].left_to_right())
            continue
        for part in parts_run:
            part_df, key_cols = compute_part(spark, part, uncovered(part, left, bootstraps),
                                             join.skew_keys, num_partitions)
            out = attach_part(out, part_df, key_cols, part.left_to_right())

    out = derive(out, join)
    return out.drop(ROW_ID, pit_join.TS_COL) if minted else out.drop(pit_join.TS_COL)
