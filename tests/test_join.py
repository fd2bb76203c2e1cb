"""Join orchestration: multi-part merge, key mapping, skew keys, derivations."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests import specs
from tests.naive_oracle import naive_features
from tests.test_pit_engine import _close
from zipline_chronon_spark.api import (
    Aggregation,
    Derivation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
)
from zipline_chronon_spark.operators.join import compute_join
from zipline_chronon_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    pdf = generate_transcripts(n_convs=20, avg_turns=25, n_days=8, seed=13)
    path = str(tmp_path_factory.mktemp("tj") / "transcripts.parquet")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)

    # left query table (FIXTURES.md F2): sampled conv ids renamed, plus unseen
    rng = np.random.default_rng(5)
    convs = pdf["conv_id"].unique()
    n_q = 150
    q = pd.DataFrame(
        {
            "conversation_id": np.concatenate(
                [rng.choice(convs, n_q - 10), np.array([f"unseen_{i}" for i in range(10)])]
            ),
            "ts": pd.to_datetime(
                rng.integers(pdf["ts"].min().value, pdf["ts"].max().value, n_q - 10).tolist()
                + rng.integers(pdf["ts"].min().value, pdf["ts"].max().value, 10).tolist()
            ),
        }
    )
    q["query_id"] = np.arange(len(q), dtype=np.int64)
    qpath = str(tmp_path_factory.mktemp("tj") / "queries.parquet")
    spark.createDataFrame(q).write.mode("overwrite").parquet(qpath)
    return pdf, q, path, qpath


def _counts_gb(path):
    return GroupBy(
        name="counts",
        sources=(specs.transcripts_source(path),),
        key_columns=("conv_id",),
        aggregations=(
            Aggregation("text", Operation.COUNT, windows=(specs.W1D, None)),
            Aggregation("len_text", Operation.SUM, windows=(specs.W1D,)),
        ),
        tie_breaker_column="turn_idx",
    )


def _recency_gb(path):
    return GroupBy(
        name="recency",
        sources=(specs.transcripts_source(path),),
        key_columns=("conv_id",),
        aggregations=(
            Aggregation("text", Operation.LAST, windows=(None,)),
            Aggregation("text", Operation.LAST_K, arg_map=(("k", "3"),), windows=(specs.W1D,)),
        ),
        tie_breaker_column="turn_idx",
    )


def test_join_two_parts_with_mapping_and_derivations(spark, setup):
    pdf, q, path, qpath = setup
    join = Join(
        name="j1",
        left=EventSource(table=qpath, query=Query(time_column="ts")),
        parts=(
            JoinPart(_counts_gb(path), key_mapping=(("conversation_id", "conv_id"),)),
            JoinPart(_recency_gb(path), key_mapping=(("conversation_id", "conv_id"),), prefix="r"),
        ),
        derivations=(
            Derivation("*", "*"),
            Derivation("chars_per_turn", "counts_len_text_sum_1d / counts_text_count_1d"),
        ),
    )
    got = compute_join(spark, join).toPandas().sort_values("query_id").reset_index(drop=True)

    assert "counts_text_count_1d" in got.columns
    assert "r_recency_text_last3_1d" in got.columns
    assert "chars_per_turn" in got.columns
    assert len(got) == len(q)

    # oracle
    ev = pdf.copy()
    ev["ts_ms"] = ev["ts"].astype("datetime64[ms]").astype("int64")
    ev["len_text"] = ev["text"].str.len()
    qq = q.copy()
    qq["conv_id"] = qq["conversation_id"]
    qq["ts_ms"] = qq["ts"].astype("datetime64[ms]").astype("int64")
    exp_c = naive_features(ev, qq, _counts_gb(path), tie_col="turn_idx").sort_values("query_id")
    exp_r = naive_features(ev, qq, _recency_gb(path), tie_col="turn_idx").sort_values("query_id")

    for src, col_map in (
        (exp_c, {"text_count_1d": "counts_text_count_1d", "text_count": "counts_text_count",
                 "len_text_sum_1d": "counts_len_text_sum_1d"}),
        (exp_r, {"text_last": "r_recency_text_last", "text_last3_1d": "r_recency_text_last3_1d"}),
    ):
        src = src.reset_index(drop=True)
        for ocol, gcol in col_map.items():
            for i in range(len(got)):
                assert _close(got[gcol].iloc[i], src[ocol].iloc[i]), (
                    gcol, i, got[gcol].iloc[i], src[ocol].iloc[i])

    # derivation correctness on a non-null row
    m = got["counts_text_count_1d"].notna()
    i = m.idxmax()
    assert _close(
        got["chars_per_turn"].iloc[i],
        got["counts_len_text_sum_1d"].iloc[i] / got["counts_text_count_1d"].iloc[i],
    )
    # unseen keys -> null features
    unseen = got[got["conversation_id"].str.startswith("unseen_")]
    assert unseen["counts_text_count"].isna().all()


def test_join_skew_keys_excluded(spark, setup):
    pdf, q, path, qpath = setup
    hot = pdf["conv_id"].value_counts().idxmax()
    join = Join(
        name="j2",
        left=EventSource(table=qpath, query=Query(time_column="ts")),
        parts=(JoinPart(_counts_gb(path), key_mapping=(("conversation_id", "conv_id"),)),),
        skew_keys=(("conversation_id", (hot,)),),
    )
    got = compute_join(spark, join).toPandas()
    assert (got["conversation_id"] != hot).all()
    assert len(got) == (q["conversation_id"] != hot).sum()


def _final_plan(df) -> str:
    """The executed physical plan after a full run (AQE's final plan only)."""
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_fused_parts_run_joinless(spark, setup):
    """Two fusable TEMPORAL parts keyed by the left's own key columns (the
    ``join_flagship`` shape) run as ONE engine pass with the left's columns
    passed through: one MapInArrow, and no join on the row id — the only
    join left is the engine's semi-join prefilter of the events."""
    import re

    _, _, path, _ = setup
    src = specs.transcripts_source(path)
    gb_a = GroupBy(name="fa", sources=(src,), key_columns=("conv_id",),
                   aggregations=(Aggregation("text", Operation.COUNT, windows=(specs.W1D,)),),
                   tie_breaker_column="turn_idx")
    gb_b = GroupBy(name="fb", sources=(src,), key_columns=("conv_id",),
                   aggregations=(Aggregation("len_text", Operation.SUM, windows=(specs.W1D,)),),
                   tie_breaker_column="turn_idx")
    join = Join(name="fused", left=EventSource(table=path, query=Query(time_column="ts")),
                parts=(JoinPart(gb_a), JoinPart(gb_b, prefix="p")),
                row_ids=("conv_id", "turn_idx"))
    out = compute_join(spark, join)
    plan = _final_plan(out)
    assert plan.count("MapInArrow") == 1, plan
    joins = re.findall(r"\b(\w*Join)\b(.*)", plan)
    assert joins, plan
    for _, rest in joins:
        assert "__row_id" not in rest and "LeftSemi" in rest, plan
    assert {"fa_text_count_1d", "p_fb_len_text_sum_1d"} <= set(out.columns)
