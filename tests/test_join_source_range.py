"""A GroupBy over a JoinSource, backfilled in chunks: each chunk computes
only its own rows of the upstream join, and the features stay those of an
unfiltered upstream join."""

from __future__ import annotations

from tests.test_backfill import ROW_ID_EXPR, _gb, tset  # noqa: F401 (fixture)
from zipline_chronon_spark.api import (Aggregation, EventSource, GroupBy, Join, JoinPart,
                                       JoinSource, Operation, Query)
from zipline_chronon_spark.operators import join as join_ops
from zipline_chronon_spark.operators import pit_join
from zipline_chronon_spark.plans.backfill import MS_DAY, GroupByBackfill, _ds_to_ms


def _chained(path):
    upstream = Join(name="up", left=EventSource(table=path, query=Query(time_column="ts")),
                    parts=(JoinPart(_gb(path)),))
    return GroupBy(
        name="chained",
        sources=(JoinSource(join=upstream, query=Query(time_column="ts")),),
        key_columns=("conv_id",),
        aggregations=(Aggregation("bf_counts_text_count_1d", Operation.MAX, windows=(None,)),
                      Aggregation("bf_counts_text_count", Operation.SUM, windows=(None,))),
        tie_breaker_column="turn_idx",
    )


def _out(spark, path):
    return (spark.read.parquet(path).orderBy("ds", "__row_id")
            .select("ds", "__row_id", "bf_counts_text_count_1d_max",
                    "bf_counts_text_count_sum").collect())


def test_chunk_computes_only_its_upstream_rows(spark, tset, tmp_path_factory,  # noqa: F811
                                               monkeypatch):
    path, ds_min, ds_max = tset
    left_max = []  # the latest left time each compute_join saw
    real = join_ops.left_scan

    def spy(spark_, join):
        left = real(spark_, join)
        left_max.append(left.agg({pit_join.TS_COL: "max"}).collect()[0][0])
        return left

    monkeypatch.setattr(join_ops, "left_scan", spy)
    out = str(tmp_path_factory.mktemp("jsr") / "filtered")
    res = GroupByBackfill(spark, _chained(path), out, ROW_ID_EXPR).run(
        ds_min, ds_max, step_days=2)
    chunks = res["computed_chunks"]
    assert len(chunks) >= 2 and len(left_max) == len(chunks)
    for seen, chunk in zip(left_max, chunks):
        end = _ds_to_ms(max(chunk["partitions"])) + MS_DAY
        assert seen < end, (chunk["partitions"], seen, end)

    # the same backfill over the whole upstream join in every chunk
    monkeypatch.setattr(pit_join, "_join_in_range", lambda spark_, src, rng: src.join)
    ref = str(tmp_path_factory.mktemp("jsr") / "unfiltered")
    GroupByBackfill(spark, _chained(path), ref, ROW_ID_EXPR).run(ds_min, ds_max, step_days=2)
    got, want = _out(spark, out), _out(spark, ref)
    assert len(got) > 0 and got == want
