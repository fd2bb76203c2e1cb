"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: multi-part point-in-time Join over sf0.001 events.
queries()    — one entry per implemented operator family (SURVEY.md §2),
               each runs the real engine (zipline_chronon_spark) on the
               sf_dir parquet tables.
oracle_sql() — DuckDB ANSI-SQL oracles computing the same semantics naively
               (self-join + FILTER per window with the sawtooth tail rule).

Float columns are rounded to fixed decimals on BOTH sides so value-hash
comparison is robust to summation-order ulps.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zipline_chronon_spark.api import (
    Aggregation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    TimeUnit,
    Window,
)
from zipline_chronon_spark.operators import extensions
from zipline_chronon_spark.operators.join import compute_join
from zipline_chronon_spark.operators.pit_join import (
    _read_table,
    compute_group_by,
    compute_group_by_self,
)

W1D = Window(1, TimeUnit.DAYS)
W7D = Window(7, TimeUnit.DAYS)
MS_1D = 86_400_000
MS_7D = 7 * 86_400_000
# tiny shift before rounding so engine/oracle agree when the true value sits
# exactly on a round-half boundary and 1e-12 summation-order noise would
# otherwise flip the rounded digit
ROUND_EPS = 1e-7
HOP_1H = 3_600_000  # tail hop for windows in [12h, 12d) — Resolution.scala:38-48

EVENT_SELECTS = {"user_id": "user_id", "value": "value", "event_type": "event_type",
                 "event_id": "event_id"}


def _events_source(sf_dir: str) -> EventSource:
    return EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(selects=EVENT_SELECTS, time_column="ts"),
    )


def _events_gb(sf_dir: str, name: str, aggs: tuple) -> GroupBy:
    return GroupBy(
        name=name,
        sources=(_events_source(sf_dir),),
        key_columns=("user_id",),
        aggregations=aggs,
        tie_breaker_column="event_id",
    )


def _pit(spark: SparkSession, sf_dir: str, name: str, aggs: tuple,
         outputs: dict[str, tuple[str, int | None]]) -> DataFrame:
    """Run a GroupBy with left = the events themselves (each event queries at
    its own ts); project event_id + aliased/rounded feature columns.

    Uses the engine's self-enrichment fast path (compute_group_by_self):
    when the left IS the source at its own timestamps, the union-mode plan
    (events ∪ queries = 2N rows scanned, shuffled and fed to Arrow) is pure
    overhead — one scan/shuffle of N side=2 rows computes the identical
    result (row-for-row equal to compute_group_by with this left; the
    events table has no null keys/timestamps at any SF, so the union-mode
    null-key left rows the fast path cannot represent do not occur)."""
    gb = _events_gb(sf_dir, name, aggs)
    res = compute_group_by_self(spark, gb, row_id_expr="event_id")
    cols = [F.col("__row_id").alias("event_id")]
    for src, (alias, digits) in outputs.items():
        c = F.col(src)
        if digits is not None:
            c = F.round(c + F.lit(ROUND_EPS), digits)
        cols.append(c.alias(alias))
    return res.select(*cols)


# ---------------------------------------------------------------------------
# oracle SQL scaffolding (DuckDB): one self-join per user with ets <= qts,
# windows carved out via FILTER with the hop-aligned tail rule.

_ORACLE_BASE = """
WITH j AS (
  SELECT q.event_id AS event_id,
         epoch_ms(q.ts) AS qts,
         e.value AS v, e.event_type AS et,
         epoch_ms(e.ts) AS ets, e.event_id AS eid
  FROM events q LEFT JOIN events e
    ON e.user_id = q.user_id AND epoch_ms(e.ts) <= epoch_ms(q.ts)
)
SELECT event_id, {aggs}
FROM j GROUP BY event_id, qts
"""


def _tail(window_ms: int, hop_ms: int) -> str:
    return f"ets >= ((qts - {window_ms}) // {hop_ms}) * {hop_ms}"


# The driver's canonicalizer sorts result frames with pandas and cannot hash
# raw array<> cells (CORRECTNESS_r01: "unhashable type: 'list'"), so every
# array output is serialized to a csv string on BOTH sides. Doubles are
# scaled to 1e-4 integers first so Spark and DuckDB string formatting of
# floats can never diverge.
def _arr_str(col: str):
    return F.array_join(
        F.transform(
            F.col(col),
            lambda x: F.round(x * 10000 + F.lit(ROUND_EPS), 0).cast("long").cast("string"),
        ),
        ",",
    )


def _o_arr_str(list_expr: str) -> str:
    return (
        f"array_to_string(list_transform({list_expr}, "
        f"x -> CAST(round(x * 10000 + 0.0000001) AS BIGINT)), ',')"
    )


def _oracle(aggs: str) -> str:
    return _ORACLE_BASE.format(aggs=aggs)


# ---------------------------------------------------------------------------
# queries


def q_pit_count_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit(
        spark, sf_dir, "counts",
        (
            Aggregation("value", Operation.COUNT, windows=(W1D, W7D, None)),
            Aggregation("value", Operation.SUM, windows=(W1D, W7D, None)),
        ),
        {
            "value_count_1d": ("cnt_1d", None),
            "value_count_7d": ("cnt_7d", None),
            "value_count": ("cnt_all", None),
            "value_sum_1d": ("sum_1d", 4),
            "value_sum_7d": ("sum_7d", 4),
            "value_sum": ("sum_all", 4),
        },
    )


def o_pit_count_sum() -> str:
    t1, t7 = _tail(MS_1D, HOP_1H), _tail(MS_7D, HOP_1H)
    return _oracle(
        f"""
        CASE WHEN count(v) FILTER (WHERE {t1}) = 0 THEN NULL
             ELSE count(v) FILTER (WHERE {t1}) END AS cnt_1d,
        CASE WHEN count(v) FILTER (WHERE {t7}) = 0 THEN NULL
             ELSE count(v) FILTER (WHERE {t7}) END AS cnt_7d,
        CASE WHEN count(v) = 0 THEN NULL ELSE count(v) END AS cnt_all,
        round(sum(v) FILTER (WHERE {t1}) + 0.0000001, 4) AS sum_1d,
        round(sum(v) FILTER (WHERE {t7}) + 0.0000001, 4) AS sum_7d,
        round(sum(v) + 0.0000001, 4) AS sum_all
        """
    )


def q_pit_min_max_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit(
        spark, sf_dir, "mma",
        (
            Aggregation("value", Operation.MIN, windows=(W1D, W7D)),
            Aggregation("value", Operation.MAX, windows=(W1D, W7D)),
            Aggregation("value", Operation.AVERAGE, windows=(W1D,)),
        ),
        {
            "value_min_1d": ("min_1d", None),
            "value_min_7d": ("min_7d", None),
            "value_max_1d": ("max_1d", None),
            "value_max_7d": ("max_7d", None),
            "value_average_1d": ("avg_1d", 4),
        },
    )


def o_pit_min_max_avg() -> str:
    t1, t7 = _tail(MS_1D, HOP_1H), _tail(MS_7D, HOP_1H)
    return _oracle(
        f"""
        min(v) FILTER (WHERE {t1}) AS min_1d,
        min(v) FILTER (WHERE {t7}) AS min_7d,
        max(v) FILTER (WHERE {t1}) AS max_1d,
        max(v) FILTER (WHERE {t7}) AS max_7d,
        round(avg(v) FILTER (WHERE {t1}) + 0.0000001, 4) AS avg_1d
        """
    )


def q_pit_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit(
        spark, sf_dir, "recency",
        (
            Aggregation("value", Operation.FIRST, windows=(W7D,)),
            Aggregation("value", Operation.LAST, windows=(W7D,)),
            Aggregation("value", Operation.LAST_K, arg_map=(("k", "3"),), windows=(None,)),
            Aggregation("value", Operation.FIRST_K, arg_map=(("k", "2"),), windows=(W1D,)),
        ),
        {
            "value_first_7d": ("first_7d", None),
            "value_last_7d": ("last_7d", None),
            "value_last3": ("last3_raw", None),
            "value_first2_1d": ("first2_raw", None),
        },
    ).select(
        "event_id", "first_7d", "last_7d",
        _arr_str("last3_raw").alias("last3_all"),
        _arr_str("first2_raw").alias("first2_1d"),
    )


def o_pit_recency() -> str:
    t1, t7 = _tail(MS_1D, HOP_1H), _tail(MS_7D, HOP_1H)
    last3 = "CASE WHEN count(v) = 0 THEN NULL ELSE (list(v ORDER BY ets DESC, eid DESC))[1:3] END"
    first2 = (f"CASE WHEN count(v) FILTER (WHERE {t1}) = 0 THEN NULL "
              f"ELSE (list(v ORDER BY ets ASC, eid ASC) FILTER (WHERE {t1}))[1:2] END")
    return _oracle(
        f"""
        (list(v ORDER BY ets ASC, eid ASC) FILTER (WHERE {t7}))[1] AS first_7d,
        (list(v ORDER BY ets DESC, eid ASC) FILTER (WHERE {t7}))[1] AS last_7d,
        {_o_arr_str(last3)} AS last3_all,
        {_o_arr_str(first2)} AS first2_1d
        """
    )


def q_pit_distinct_var_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _pit(
        spark, sf_dir, "dvp",
        (
            Aggregation("event_type", Operation.UNIQUE_COUNT, windows=(W7D,)),
            Aggregation("event_type", Operation.APPROX_UNIQUE_COUNT, windows=(W7D,)),
            Aggregation("value", Operation.VARIANCE, windows=(W7D,)),
            Aggregation(
                "value", Operation.APPROX_PERCENTILE,
                arg_map=(("percentiles", "[0.5, 0.95]"),), windows=(W7D,),
            ),
        ),
        {
            "event_type_unique_count_7d": ("uniq_et_7d", None),
            "event_type_approx_unique_count_7d": ("approx_uniq_et_7d", None),
            "value_variance_7d": ("var_7d", 3),
            "value_approx_percentile_7d": ("pctl_raw", None),
        },
    )
    return df.select(
        "event_id", "uniq_et_7d", "approx_uniq_et_7d",
        F.when(F.isnan("var_7d"), None).otherwise(F.col("var_7d")).alias("var_7d"),
        F.round(F.col("pctl_raw")[0] + F.lit(ROUND_EPS), 4).alias("p50_7d"),
        F.round(F.col("pctl_raw")[1] + F.lit(ROUND_EPS), 4).alias("p95_7d"),
    )


def o_pit_distinct_var_pctl() -> str:
    t7 = _tail(MS_7D, HOP_1H)
    return _oracle(
        f"""
        count(DISTINCT et) FILTER (WHERE {t7}) AS uniq_et_7d,
        count(DISTINCT et) FILTER (WHERE {t7}) AS approx_uniq_et_7d,
        round(var_pop(v) FILTER (WHERE {t7}) + 0.0000001, 3) AS var_7d,
        round(quantile_cont(v, 0.5) FILTER (WHERE {t7}) + 0.0000001, 4) AS p50_7d,
        round(quantile_cont(v, 0.95) FILTER (WHERE {t7}) + 0.0000001, 4) AS p95_7d
        """
    )


def q_pit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit(
        spark, sf_dir, "topk",
        (
            Aggregation("value", Operation.TOP_K, arg_map=(("k", "3"),), windows=(W7D,)),
            Aggregation("value", Operation.BOTTOM_K, arg_map=(("k", "3"),), windows=(W7D,)),
        ),
        {
            "value_top3_7d": ("top3_raw", None),
            "value_bottom3_7d": ("bottom3_raw", None),
        },
    ).select(
        "event_id",
        _arr_str("top3_raw").alias("top3_7d"),
        _arr_str("bottom3_raw").alias("bottom3_7d"),
    )


def o_pit_topk() -> str:
    t7 = _tail(MS_7D, HOP_1H)
    top3 = (f"CASE WHEN count(v) FILTER (WHERE {t7}) = 0 THEN NULL "
            f"ELSE (list(v ORDER BY v DESC) FILTER (WHERE {t7}))[1:3] END")
    bot3 = (f"CASE WHEN count(v) FILTER (WHERE {t7}) = 0 THEN NULL "
            f"ELSE (list(v ORDER BY v ASC) FILTER (WHERE {t7}))[1:3] END")
    return _oracle(
        f"""
        {_o_arr_str(top3)} AS top3_7d,
        {_o_arr_str(bot3)} AS bottom3_7d
        """
    )


def _map_str(col: str, scaled: bool) -> "F.Column":
    """map column -> 'k:v,...' csv sorted by key; float values 1e-4-scaled."""
    def fmt(kv):
        v = kv["value"]
        if scaled:
            v = F.round(v * 10000 + F.lit(ROUND_EPS), 0).cast("long")
        return F.concat_ws(":", kv["key"], v.cast("string"))

    return F.array_join(
        F.transform(F.array_sort(F.map_entries(F.col(col))), fmt), ",")


def _map_str_ordered(col: str) -> "F.Column":
    """map column -> 'k:v,...' csv in STORED entry order (FREQUENT_K emits
    count-desc, value-asc)."""
    return F.array_join(
        F.transform(F.map_entries(F.col(col)),
                    lambda kv: F.concat_ws(":", kv["key"], kv["value"].cast("string"))),
        ",")


def q_pit_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW / KURTOSIS (population, SimpleAggregators.scala:758-766)."""
    df = _pit(
        spark, sf_dir, "skurt",
        (
            Aggregation("value", Operation.SKEW, windows=(W7D,)),
            Aggregation("value", Operation.KURTOSIS, windows=(W7D,)),
        ),
        {"value_skew_7d": ("skew_raw", None), "value_kurtosis_7d": ("kurt_raw", None)},
    )
    def denan(c):
        col = F.col(c)
        return F.when(F.isnan(col), None).otherwise(col)
    # `+ 0.0` after round(): IEEE -0.0 + 0.0 = +0.0, so a negative zero on
    # either engine canonicalizes before the driver's sign-sensitive hash
    return df.select(
        "event_id",
        (F.round(denan("skew_raw") + F.lit(ROUND_EPS), 4) + F.lit(0.0)).alias("skew_7d"),
        (F.round(denan("kurt_raw") + F.lit(ROUND_EPS), 4) + F.lit(0.0)).alias("kurt_7d"),
    )


def o_pit_skew_kurt() -> str:
    t7 = _tail(MS_7D, HOP_1H)
    n = f"count(v) FILTER (WHERE {t7})"
    # engine SKEW = population g1; DuckDB skewness() is sample G1:
    # g1 = G1 * (n-2) / sqrt(n*(n-1)). kurtosis_pop is already population.
    return _oracle(
        f"""
        CASE WHEN {n} < 3 OR var_pop(v) FILTER (WHERE {t7}) = 0 THEN NULL
             ELSE round(skewness(v) FILTER (WHERE {t7})
                        * ({n} - 2) / sqrt({n} * ({n} - 1.0)) + 0.0000001, 4) + 0.0 END AS skew_7d,
        CASE WHEN {n} < 4 OR var_pop(v) FILTER (WHERE {t7}) = 0 THEN NULL
             ELSE round(kurtosis_pop(v) FILTER (WHERE {t7}) + 0.0000001, 4) + 0.0 END AS kurt_7d
        """
    )


def q_pit_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM + APPROX_FREQUENT_K + UNIQUE_TOP_K (map/list outputs
    serialized to csv for the driver canonicalizer)."""
    df = _pit(
        spark, sf_dir, "hist",
        (
            Aggregation("event_type", Operation.HISTOGRAM, windows=(W7D,)),
            Aggregation("event_type", Operation.APPROX_FREQUENT_K,
                        arg_map=(("k", "2"),), windows=(W7D,)),
            Aggregation("value", Operation.UNIQUE_TOP_K,
                        arg_map=(("k", "3"),), windows=(W7D,)),
            Aggregation("event_type", Operation.APPROX_HEAVY_HITTERS_K,
                        arg_map=(("k", "2"),), windows=(W7D,)),
        ),
        {
            "event_type_histogram_7d": ("hist_raw", None),
            "event_type_approx_frequent_k_7d": ("freq_raw", None),
            "value_unique_top3_7d": ("utop_raw", None),
            "event_type_approx_heavy_hitters_k_7d": ("hh_raw", None),
        },
    )
    return df.select(
        "event_id",
        _map_str("hist_raw", scaled=False).alias("hist_7d"),
        _map_str_ordered("freq_raw").alias("freq2_7d"),
        _arr_str("utop_raw").alias("utop3_7d"),
        # batch-side the exact kernel serves both frequency policies (the
        # NO_FALSE_* distinction only exists at the KV/sketch tier)
        _map_str_ordered("hh_raw").alias("hh2_7d"),
    )


def o_pit_histogram() -> str:
    t7 = _tail(MS_7D, HOP_1H)
    utop = (f"CASE WHEN count(v) FILTER (WHERE {t7}) = 0 THEN NULL "
            f"ELSE list_slice(list_reverse_sort(list_distinct("
            f"list(v) FILTER (WHERE {t7}))), 1, 3) END")
    return f"""
    WITH j AS (
      SELECT q.event_id AS event_id, epoch_ms(q.ts) AS qts,
             e.value AS v, e.event_type AS et, epoch_ms(e.ts) AS ets
      FROM events q LEFT JOIN events e
        ON e.user_id = q.user_id AND epoch_ms(e.ts) <= epoch_ms(q.ts)
    ),
    base AS (
      SELECT event_id, {_o_arr_str(utop)} AS utop3_7d
      FROM j GROUP BY event_id, qts
    ),
    c AS (
      SELECT event_id, et, count(*) AS cnt
      FROM j WHERE {t7} AND et IS NOT NULL GROUP BY event_id, et
    ),
    h AS (
      SELECT event_id, string_agg(et || ':' || cnt, ',' ORDER BY et) AS hist_7d
      FROM c GROUP BY event_id
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY cnt DESC, et ASC) AS rk
      FROM c
    ),
    f AS (
      SELECT event_id,
             string_agg(et || ':' || cnt, ',' ORDER BY cnt DESC, et ASC) AS freq2_7d
      FROM r WHERE rk <= 2 GROUP BY event_id
    )
    SELECT base.event_id, h.hist_7d, f.freq2_7d, base.utop3_7d,
           f.freq2_7d AS hh2_7d
    FROM base LEFT JOIN h USING (event_id) LEFT JOIN f USING (event_id)
    """


def q_pit_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed non-COUNT aggregation: SUM of value by event_type bucket
    (map output, Extensions.scala bucketed unpack)."""
    df = _pit(
        spark, sf_dir, "bsum",
        (Aggregation("value", Operation.SUM, windows=(W1D,), buckets=("event_type",)),),
        {"value_sum_1d_by_event_type": ("bsum_raw", None)},
    )
    return df.select(
        "event_id", _map_str("bsum_raw", scaled=True).alias("sum_1d_by_et"))


def o_pit_bucketed() -> str:
    t1 = _tail(MS_1D, HOP_1H)
    return f"""
    WITH j AS (
      SELECT q.event_id AS event_id, epoch_ms(q.ts) AS qts,
             e.value AS v, e.event_type AS et, epoch_ms(e.ts) AS ets
      FROM events q LEFT JOIN events e
        ON e.user_id = q.user_id AND epoch_ms(e.ts) <= epoch_ms(q.ts)
    ),
    base AS (SELECT DISTINCT event_id FROM j),
    c AS (
      SELECT event_id, et,
             CAST(round(sum(v) * 10000 + 0.0000001) AS BIGINT) AS sv
      FROM j WHERE {t1} AND et IS NOT NULL AND v IS NOT NULL
      GROUP BY event_id, et
    ),
    m AS (
      SELECT event_id, string_agg(et || ':' || sv, ',' ORDER BY et) AS sum_1d_by_et
      FROM c GROUP BY event_id
    )
    SELECT base.event_id, m.sum_1d_by_et FROM base LEFT JOIN m USING (event_id)
    """


def q_pit_vector_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector (list) and map input shapes: each event contributes a list
    [v, 2v] (flattened into the window) and a map {'a': v, 'b': v+1}
    (aggregated per key) — pit_join.py vector/map unpack paths."""
    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"user_id": "user_id", "event_id": "event_id",
                     "vals": "array(value, value * 2)",
                     "vm": "map('a', value, 'b', value + 1)"},
            time_column="ts",
        ),
    )
    gb = GroupBy(
        name="vecmap", sources=(src,), key_columns=("user_id",),
        aggregations=(
            Aggregation("vals", Operation.SUM, windows=(W1D,)),
            Aggregation("vm", Operation.SUM, windows=(W1D,)),
        ),
        tie_breaker_column="event_id",
    )
    # self-enrichment fast path — same rationale as _pit
    res = compute_group_by_self(spark, gb, row_id_expr="event_id")
    return res.select(
        F.col("__row_id").alias("event_id"),
        F.round(F.col("vals_sum_1d") + F.lit(ROUND_EPS), 4).alias("vec_sum_1d"),
        _map_str("vm_sum_1d", scaled=True).alias("map_sum_1d"),
    )


def o_pit_vector_map() -> str:
    t1 = _tail(MS_1D, HOP_1H)
    n = f"count(v) FILTER (WHERE {t1})"
    s = f"sum(v) FILTER (WHERE {t1})"
    return _oracle(
        f"""
        round(3 * {s} + 0.0000001, 4) AS vec_sum_1d,
        CASE WHEN {n} = 0 THEN NULL ELSE
          'a:' || CAST(round({s} * 10000 + 0.0000001) AS BIGINT)
          || ',b:' || CAST(round(({s} + {n}) * 10000 + 0.0000001) AS BIGINT)
        END AS map_sum_1d
        """
    )


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read_table(spark, f"{sf_dir}/events.parquet")
    out = extensions.with_lag_lead(
        df, keys=["user_id"], order_by=["ts", "event_id"], columns=["value"], offsets=(1,)
    )
    return out.select(
        "event_id",
        F.round(F.col("value_lag1") + F.lit(ROUND_EPS), 4).alias("value_lag1"),
        F.round(F.col("value_lead1") + F.lit(ROUND_EPS), 4).alias("value_lead1"),
    )


def o_lag_lead() -> str:
    return """
    SELECT event_id,
           round(lag(value) OVER w + 0.0000001, 4) AS value_lag1,
           round(lead(value) OVER w + 0.0000001, 4) AS value_lead1
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read_table(spark, f"{sf_dir}/events.parquet")
    s = extensions.sessionize(
        df, keys=["user_id"], ts_col="ts", order_by=["ts", "event_id"], gap="6 hours"
    )
    return extensions.session_aggregates(s, keys=["user_id"], ts_col="ts").select(
        "user_id", "session_id", "n_turns", "session_start_ms", "session_end_ms", "duration_ms"
    )


def o_sessionize() -> str:
    return """
    WITH g AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
             CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL THEN 0
                  WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 21600000 THEN 1
                  ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ms,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*) AS n_turns,
           min(ms) AS session_start_ms, max(ms) AS session_end_ms,
           max(ms) - min(ms) AS duration_ms
    FROM s GROUP BY user_id, session_id
    """


def q_join_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Join path: left + two prefixed GroupBy parts + derivation."""
    from zipline_chronon_spark.api import Derivation

    join = Join(
        name="flagship",
        left=_events_source(sf_dir),
        parts=(
            JoinPart(_events_gb(sf_dir, "cnt", (
                Aggregation("value", Operation.COUNT, windows=(W1D,)),
                Aggregation("value", Operation.SUM, windows=(W1D,)),
            ))),
            JoinPart(_events_gb(sf_dir, "rec", (
                Aggregation("value", Operation.LAST, windows=(W7D,)),
            )), prefix="r"),
        ),
        derivations=(
            Derivation("*", "*"),
            Derivation("value_over_last", "try_divide(value, r_rec_value_last_7d)"),
        ),
        row_ids=("event_id",),
    )
    out = compute_join(spark, join)
    return out.select(
        "event_id",
        F.col("cnt_value_count_1d").alias("cnt_1d"),
        F.round(F.col("cnt_value_sum_1d") + F.lit(ROUND_EPS), 4).alias("sum_1d"),
        F.col("r_rec_value_last_7d").alias("last_7d"),
        F.round(F.col("value_over_last") + F.lit(ROUND_EPS), 6).alias("value_over_last"),
    )


def o_join_flagship() -> str:
    t1, t7 = _tail(MS_1D, HOP_1H), _tail(MS_7D, HOP_1H)
    return f"""
    WITH j AS (
      SELECT q.event_id AS event_id, q.value AS qv,
             epoch_ms(q.ts) AS qts,
             e.value AS v, epoch_ms(e.ts) AS ets, e.event_id AS eid
      FROM events q LEFT JOIN events e
        ON e.user_id = q.user_id AND epoch_ms(e.ts) <= epoch_ms(q.ts)
    )
    SELECT event_id,
           CASE WHEN count(v) FILTER (WHERE {t1}) = 0 THEN NULL
                ELSE count(v) FILTER (WHERE {t1}) END AS cnt_1d,
           round(sum(v) FILTER (WHERE {t1}) + 0.0000001, 4) AS sum_1d,
           (list(v ORDER BY ets DESC, eid ASC) FILTER (WHERE {t7}))[1] AS last_7d,
           round(any_value(qv) / (list(v ORDER BY ets DESC, eid ASC) FILTER (WHERE {t7}))[1] + 0.0000001, 6)
               AS value_over_last
    FROM j GROUP BY event_id, qts
    """


# ---------------------------------------------------------------------------
# training-data pipeline operators (dedup / text / similarity)

_SHINGLES_SQL = """
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                               i -> substr(text, i, 3))) AS shingle
  FROM documents
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zipline_chronon_spark.operators.dedup import exact_dup_groups

    docs = _read_table(spark, f"{sf_dir}/documents.parquet")
    return exact_dup_groups(docs)


def o_dedup_exact() -> str:
    return """
    WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
    g AS (SELECT content_hash, count(*) AS group_size, min(doc_id) AS canonical_id
          FROM h GROUP BY 1)
    SELECT h.doc_id, h.content_hash, g.group_size, g.canonical_id,
           h.doc_id <> g.canonical_id AS is_duplicate
    FROM h JOIN g USING (content_hash)
    """


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise Jaccard on a bounded doc universe (doc_id < 1000).
    The synthetic docs share one tiny vocabulary, so every shingle appears
    in nearly every document and the exact all-pairs universe grows
    quadratically with |docs| — the LSH query (dedup_minhash_lsh) is the
    scale path; this one is the exactness baseline."""
    from zipline_chronon_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read_table(spark, f"{sf_dir}/documents.parquet").where("doc_id < 1000")
    out = ngram_jaccard_pairs(docs, threshold=0.7, df_cap=0.1)
    return out.select("id_a", "id_b", "n_shared",
                      F.round(F.col("jaccard") + F.lit(ROUND_EPS), 6).alias("jaccard"))


def o_dedup_ngram_jaccard() -> str:
    # df_cap=0.1 on both sides: shingles present in >10% of docs carry no
    # near-dup signal and make the self-join quadratic (the synthetic docs
    # share one tiny vocabulary)
    return f"""
    WITH sh0 AS (SELECT * FROM ({_SHINGLES_SQL}) WHERE doc_id < 1000),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM sh0),
    hot AS (SELECT shingle FROM sh0, nd GROUP BY shingle, nd.n
            HAVING count(*) > 0.1 * any_value(nd.n)),
    sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared,
           round(n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) + 0.0000001, 6) AS jaccard
    FROM shared JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
    WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.7
    """


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zipline_chronon_spark.operators.dedup import minhash_signature

    docs = _read_table(spark, f"{sf_dir}/documents.parquet")
    sig = minhash_signature(docs, num_hashes=8)
    return sig.select(
        "doc_id",
        F.array_join(F.transform("minhash", lambda x: x.cast("string")), ",")
        .alias("minhash"))


_H60 = "CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)"


def _o_minhash(i: int) -> str:
    from zipline_chronon_spark.operators.dedup import PERM_SALTS

    return f"min(xor({_H60}, {PERM_SALTS[i]}))"


def o_dedup_minhash_sig() -> str:
    mins = ", ".join(_o_minhash(i) for i in range(8))
    return f"""
    WITH sh AS ({_SHINGLES_SQL})
    SELECT doc_id, array_to_string([{mins}], ',') AS minhash FROM sh GROUP BY doc_id
    """


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zipline_chronon_spark.operators.dedup import minhash_lsh_pairs

    docs = _read_table(spark, f"{sf_dir}/documents.parquet").where("doc_id < 2000")
    return minhash_lsh_pairs(docs, num_hashes=16, band_size=4, max_bucket=100)


def o_dedup_minhash_lsh() -> str:
    mins = ", ".join(f"{_o_minhash(i)} AS h{i}" for i in range(16))
    bands = ", ".join(
        "'%d' || '|' || %s" % (bi, " || '|' || ".join(f"h{4 * bi + j}" for j in range(4)))
        for bi in range(4)
    )
    return f"""
    WITH sh AS (SELECT * FROM ({_SHINGLES_SQL}) WHERE doc_id < 2000),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands0 AS (SELECT doc_id, unnest([{bands}]) AS band_key FROM sig),
    hot AS (SELECT band_key FROM bands0 GROUP BY 1 HAVING count(*) > 100),
    bands AS (SELECT * FROM bands0 WHERE band_key NOT IN (SELECT band_key FROM hot))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    """


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components of the MinHash-LSH
    pair graph via min-label propagation (dedup.duplicate_groups) — the
    operator between pair emission and keep-one-per-cluster. Oracle
    replays the same components with a DuckDB recursive CTE (labels are
    deterministic: min doc_id per component)."""
    from zipline_chronon_spark.operators.dedup import duplicate_groups, minhash_lsh_pairs

    docs = _read_table(spark, f"{sf_dir}/documents.parquet").where("doc_id < 2000")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_size=4, max_bucket=100)
    return duplicate_groups(docs, pairs, id_col="doc_id")


def o_dedup_groups() -> str:
    mins = ", ".join(f"{_o_minhash(i)} AS h{i}" for i in range(16))
    bands = ", ".join(
        "'%d' || '|' || %s" % (bi, " || '|' || ".join(f"h{4 * bi + j}" for j in range(4)))
        for bi in range(4)
    )
    return f"""
    WITH RECURSIVE
    sh AS (SELECT * FROM ({_SHINGLES_SQL}) WHERE doc_id < 2000),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands0 AS (SELECT doc_id, unnest([{bands}]) AS band_key FROM sig),
    hot AS (SELECT band_key FROM bands0 GROUP BY 1 HAVING count(*) > 100),
    bands AS (SELECT * FROM bands0 WHERE band_key NOT IN (SELECT band_key FROM hot)),
    p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.band_key = b.band_key
                                   AND a.doc_id < b.doc_id),
    e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b AS src, id_a AS dst FROM p),
    reach AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
      WHERE e2.dst <> r.src
    ),
    docs0 AS (SELECT doc_id FROM documents WHERE doc_id < 2000)
    SELECT d.doc_id,
           least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS group_id
    FROM docs0 d LEFT JOIN reach r ON r.src = d.doc_id
    GROUP BY d.doc_id
    """


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (60-bit md5 token hash: DuckDB-replayable)."""
    from zipline_chronon_spark.operators.dedup import simhash_near_pairs

    docs = _read_table(spark, f"{sf_dir}/documents.parquet").where("doc_id < 2000")
    # max_bucket (skew defense) not passed: no cell exceeds it on this data
    # and the hot-cell pre-count costs an extra pipeline pass
    return simhash_near_pairs(docs, max_hamming=12)


def o_dedup_simhash() -> str:
    h60 = "CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)"
    csums = ", ".join(f"sum((hv >> {j}) & 1) AS c{j}" for j in range(60))
    simbits = " + ".join(f"(CASE WHEN 2 * c{j} > n THEN {1 << j} ELSE 0 END)"
                         for j in range(60))
    bands = ", ".join(f"(simhash >> {15 * j}) & 32767" for j in range(4))
    return f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents WHERE doc_id < 2000
    ),
    h AS (SELECT doc_id, {h60} AS hv FROM t),
    v AS (SELECT doc_id, count(*) AS n, {csums} FROM h GROUP BY doc_id),
    s AS (SELECT doc_id, CAST({simbits} AS BIGINT) AS simhash FROM v),
    bands AS (SELECT doc_id, simhash,
                     unnest([{bands}]) AS band,
                     unnest([0, 1, 2, 3]) AS band_id
              FROM s)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band = b.band AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
    """


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-banded candidates (md5 fixed-
    point hyperplanes — DuckDB bit-replayable), exact JVM-side sequential
    cosine decides the threshold (operators/dedup.embedding_near_dup_pairs).
    Synthetic embeddings are near-orthogonal (max pairwise cosine ~0.5-0.6),
    so the 'near-dup' threshold here is 0.35 — the operator contract, not
    the data, is what's under test."""
    from zipline_chronon_spark.operators.dedup import embedding_near_dup_pairs

    emb = _read_table(spark, f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dup_pairs(emb, threshold=0.35)
    return out.select(
        "id_a", "id_b",
        F.round(F.col("sim") + F.lit(ROUND_EPS), 6).alias("sim"))


def o_dedup_embedding() -> str:
    # exact oracle while no (band, bucket) cell exceeds max_bucket=4096
    # (true at every driver/bench SF; the subsample knob is skew defense)
    return """
    WITH comps AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ), planes AS (
      SELECT tp.p, td.d,
             CAST(('0x' || substr(md5('lsh7:' || tp.p || ':' || td.d), 1, 15)) AS BIGINT)
               - 576460752303423488 AS w
      FROM range(16) tp(p), range(64) td(d)
    ), dots AS (
      SELECT c.vec_id, pl.p, sum(c.x * pl.w) AS dot
      FROM comps c JOIN planes pl USING (d)
      GROUP BY c.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id, p // 4 AS band,
             sum(CASE WHEN dot >= 0 THEN 1 << (p % 4) ELSE 0 END) AS bucket
      FROM dots GROUP BY vec_id, p // 4
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), sims AS (
      SELECT p.id_a, p.id_b,
             list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])) AS sim
      FROM pairs p JOIN embeddings ea ON ea.vec_id = p.id_a
                   JOIN embeddings eb ON eb.vec_id = p.id_b
    )
    SELECT id_a, id_b, round(sim + 0.0000001, 6) AS sim
    FROM sims WHERE sim >= 0.35
    """


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zipline_chronon_spark.operators.text import with_text_features

    docs = _read_table(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = with_text_features(docs)
    return out.select(
        "doc_id", "n_chars_f", "n_tokens", "n_bpe_tokens", "n_stopwords",
        F.round(F.col("punct_ratio") + F.lit(ROUND_EPS), 6).alias("punct_ratio"),
        F.round(F.col("stopword_ratio") + F.lit(ROUND_EPS), 6).alias("stopword_ratio"),
        F.round(F.col("quality_score") + F.lit(ROUND_EPS), 6).alias("quality_score"),
        "lang_pred",
    )


def o_text_features() -> str:
    from zipline_chronon_spark.operators.text import BPE_TOKEN_RE, STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    bpe_re = BPE_TOKEN_RE.replace("'", "''")
    return f"""
    WITH f AS (
      SELECT doc_id,
             length(text)::BIGINT AS n_chars_f,
             len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens,
             len(regexp_extract_all(text, '{bpe_re}'))::BIGINT AS n_bpe_tokens,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             t -> list_contains([{stop}], lower(t))))::BIGINT AS n_stopwords,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::BIGINT AS n_punct
      FROM documents
    ), r AS (
      SELECT *, n_punct * 1.0 / greatest(n_chars_f, 1) AS punct_ratio,
             n_stopwords * 1.0 / greatest(n_tokens, 1) AS stopword_ratio
      FROM f
    )
    SELECT doc_id, n_chars_f, n_tokens, n_bpe_tokens, n_stopwords,
           round(punct_ratio + 0.0000001, 6) AS punct_ratio,
           round(stopword_ratio + 0.0000001, 6) AS stopword_ratio,
           round(least(n_tokens / 50.0, 1.0) * 0.5
                 + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
                 + least(stopword_ratio * 4, 1.0) * 0.25 + 0.0000001, 6) AS quality_score,
           CASE WHEN n_stopwords >= 1 THEN 'en' ELSE 'unknown' END AS lang_pred
    FROM r
    """


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zipline_chronon_spark.operators.text import fingerprint

    docs = _read_table(spark, f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", fingerprint("text", 5).alias("fp"))


def o_fingerprint() -> str:
    return """
    SELECT doc_id,
           list_min(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                                   i -> md5(substr(text, i, 5)))) AS fp
    FROM documents
    """


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over real binary columns: text encoded to bytes
    stands in for media payloads; metadata extraction runs the actual
    Arrow-batch mapInPandas path with the deterministic stub decoder
    (sha256-derived), which the DuckDB oracle replays exactly."""
    from zipline_chronon_spark.operators.multimodal import extract_media_metadata

    docs = (_read_table(spark, f"{sf_dir}/documents.parquet")
            .select("doc_id", F.encode("text", "UTF-8").alias("media")))
    out = extract_media_metadata(docs, binary_col="media")
    return out.select("doc_id", "media_bytes", "sha256", "format",
                      "width", "height", "n_frames", "duration_ms")


def o_multimodal_meta() -> str:
    sha = "sha256(text)"
    return f"""
    SELECT doc_id,
           octet_length(encode(text)) AS media_bytes,
           {sha} AS sha256,
           'fake' AS format,
           16 + CAST(('0x' || substr({sha}, 1, 2)) AS INT) AS width,
           16 + CAST(('0x' || substr({sha}, 3, 2)) AS INT) AS height,
           1 + CAST(('0x' || substr({sha}, 5, 1)) AS INT) AS n_frames,
           CAST(('0x' || substr({sha}, 1, 6)) AS BIGINT) AS duration_ms
    FROM documents
    """


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zipline_chronon_spark.operators.similarity import brute_force_topk

    emb = _read_table(spark, f"{sf_dir}/embeddings.parquet")
    out = brute_force_topk(emb, k=3)
    return out.select("vec_id", "neighbor_id", "rank",
                      F.round(F.col("sim") + F.lit(ROUND_EPS), 6).alias("sim"))


def o_ann_cosine_topk() -> str:
    return """
    WITH p AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM p
    )
    SELECT vec_id, neighbor_id, rk::INT AS rank, round(sim + 0.0000001, 6) AS sim
    FROM r WHERE rk <= 3
    """


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN. Hyperplanes are md5-derived fixed-point vectors
    (similarity._md5_planes) so the DuckDB oracle replays bucket assignment
    bit-for-bit; per-cell top-k + global merge is EXACT top-k over the
    union of bucket-mates (a global-top-i mate has <i better mates in any
    cell containing it), which is what the oracle computes directly."""
    from zipline_chronon_spark.operators.similarity import lsh_bucketed_topk

    emb = _read_table(spark, f"{sf_dir}/embeddings.parquet")
    out = lsh_bucketed_topk(emb, k=3, n_planes=4, n_bands=4)
    return out.select("vec_id", "neighbor_id", "rank",
                      F.round(F.col("sim") + F.lit(ROUND_EPS), 6).alias("sim"))


def o_ann_lsh_topk() -> str:
    # exact oracle while no (band, bucket) cell exceeds max_bucket=4096
    # (true at every driver/bench SF; the subsample knob is skew defense)
    return """
    WITH comps AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ), planes AS (
      SELECT tp.p, td.d,
             CAST(('0x' || substr(md5('lsh7:' || tp.p || ':' || td.d), 1, 15)) AS BIGINT)
               - 576460752303423488 AS w
      FROM range(16) tp(p), range(64) td(d)
    ), dots AS (
      SELECT c.vec_id, pl.p, sum(c.x * pl.w) AS dot
      FROM comps c JOIN planes pl USING (d)
      GROUP BY c.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id, p // 4 AS band,
             sum(CASE WHEN dot >= 0 THEN 1 << (p % 4) ELSE 0 END) AS bucket
      FROM dots GROUP BY vec_id, p // 4
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS q, b.vec_id AS n
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ), sims AS (
      SELECT p.q AS vec_id, p.n AS neighbor_id,
             list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])) AS sim
      FROM pairs p JOIN embeddings ea ON ea.vec_id = p.q
                   JOIN embeddings eb ON eb.vec_id = p.n
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM sims
    )
    SELECT vec_id, neighbor_id, rk::INT AS rank, round(sim + 0.0000001, 6) AS sim
    FROM r WHERE rk <= 3
    """


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN (similarity.ivf_topk): md5-seeded codebook of 16
    corpus vectors as the coarse quantizer, nearest-cell assignment, each
    query probes its 4 nearest cells, one cogrouped Arrow GEMM per cell.
    The codebook seeding, epsilon-rounded assignment ranking, and cell
    membership are all replayed exactly by the DuckDB oracle — exact while
    no cell exceeds max_cell=4096 (true at every driver/bench SF; the
    stride-subsample knob is skew defense the oracle does not replay —
    same caveat as the LSH queries)."""
    from zipline_chronon_spark.operators.similarity import ivf_topk

    emb = _read_table(spark, f"{sf_dir}/embeddings.parquet")
    out = ivf_topk(emb, k=3, n_cells=16, nprobe=4)
    return out.select("vec_id", "neighbor_id", "rank",
                      F.round(F.col("sim") + F.lit(ROUND_EPS), 6).alias("sim"))


def o_ann_ivf_topk() -> str:
    # replay of ivf_topk: seeds = 16 smallest md5(id) corpus vectors;
    # assignment/probe rank = round(cosine + eps, 6) desc, centroid id asc;
    # corpus cell = rank 1, probes = rank <= 4; a (q, n) pair meets in at
    # most one cell (each n lives in exactly one), so no dedup needed
    return """
    WITH seeds AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ), asgn AS (
      SELECT e.vec_id, s.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                     CAST(s.cemb AS DOUBLE[]))
                              + 0.0000001, 6) DESC,
                        s.cid ASC) AS crk
      FROM embeddings e CROSS JOIN seeds s
    ), corpus AS (SELECT vec_id, cid FROM asgn WHERE crk = 1),
    probes AS (SELECT vec_id, cid FROM asgn WHERE crk <= 4),
    p AS (
      SELECT q.vec_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                    CAST(ec.embedding AS DOUBLE[])) AS sim
      FROM probes q JOIN corpus c ON q.cid = c.cid AND q.vec_id <> c.vec_id
      JOIN embeddings eq ON eq.vec_id = q.vec_id
      JOIN embeddings ec ON ec.vec_id = c.vec_id
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM p
    )
    SELECT vec_id, neighbor_id, rk::INT AS rank, round(sim + 0.0000001, 6) AS sim
    FROM r WHERE rk <= 3
    """


def q_join_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(EVENTS, EVENTS, SNAPSHOT) join-part cell: each left event on ts-day d
    sees features as of end-of-day(d-1) (JoinPartJob.scala:220 shifted range
    + JoinBase.scala:66-125 ts_ds join; operators/join.py
    _snapshot_events_part aggregates once per distinct (key, day))."""
    from zipline_chronon_spark.api import Accuracy

    gb = GroupBy(
        name="snapjp",
        sources=(_events_source(sf_dir),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(W7D,)),
            Aggregation("value", Operation.COUNT, windows=(None,)),
        ),
        accuracy=Accuracy.SNAPSHOT,
        tie_breaker_column="event_id",
    )
    j = Join(
        name="snapjoin",
        left=EventSource(table=f"{sf_dir}/events.parquet",
                         query=Query(time_column="ts",
                                     selects={"event_id": "event_id",
                                              "user_id": "user_id"})),
        parts=(JoinPart(group_by=gb),),
    )
    out = compute_join(spark, j)
    return out.select(
        "event_id",
        (F.round(F.col("snapjp_value_sum_7d") + F.lit(ROUND_EPS), 4)
         + F.lit(0.0)).alias("snap_sum_7d"),
        F.col("snapjp_value_count").alias("snap_cnt_all"),
    )


def o_join_snapshot() -> str:
    return """
    WITH l AS (SELECT event_id, user_id, epoch_ms(ts) // 86400000 AS d FROM events),
    j AS (
      SELECT l.event_id, l.d, e.value AS v, epoch_ms(e.ts) AS ets
      FROM l LEFT JOIN events e
        ON e.user_id = l.user_id AND epoch_ms(e.ts) < l.d * 86400000
    )
    SELECT event_id,
           round(sum(v) FILTER (WHERE ets >= (d - 7) * 86400000) + 0.0000001, 4)
             + 0.0 AS snap_sum_7d,
           CASE WHEN count(v) = 0 THEN NULL ELSE count(v) END AS snap_cnt_all
    FROM j GROUP BY event_id, d
    """


def q_online_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The online serving tier end-to-end (GroupByUpload +
    SawtoothOnlineAggregator analogue): batch IR upload at T0 (collapsed +
    5m tail-hop tiles), raw stream events (T0, T1], then Fetcher lambda
    merge at a NON-tile-aligned T1 for every key — offline==online parity
    as a driver-gated oracle row, not just a pytest."""
    from zipline_chronon_spark.api import TimeUnit, Window
    from zipline_chronon_spark.online.fetcher import (
        Fetcher, upload_batch_state, upload_stream_events)
    from zipline_chronon_spark.online.kv import InMemoryKv

    T0 = 19_747 * MS_1D                      # 2024-01-25 00:00 UTC
    T1 = T0 + 10 * 3_600_000 + 420_000       # +10h07m, not tile-aligned
    gb = GroupBy(
        name="onl",
        sources=(EventSource(
            table=f"{sf_dir}/events.parquet",
            query=Query(time_column="ts", wheres=("user_id < 100",),
                        selects={"user_id": "user_id", "value": "value"}),
        ),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(W1D,)),
            Aggregation("value", Operation.COUNT, windows=(None,)),
            Aggregation("value", Operation.MAX,
                        windows=(Window(6, TimeUnit.HOURS),)),
        ),
    )
    kv = InMemoryKv()
    upload_batch_state(kv, spark, gb, T0)
    upload_stream_events(kv, spark, gb, T0, T1)
    f = Fetcher(kv, gb)
    users = sorted(r[0] for r in _read_table(spark, f"{sf_dir}/events.parquet")
                   .where("user_id < 100").select("user_id").distinct().collect())
    # request-batched serving (one get + two prefix scans per key) —
    # per-key results identical to fetch(); parity pinned in
    # tests/test_fetcher.py
    fetched = f.fetch_batch([(u,) for u in users], at_ts_ms=T1)
    rows = [(int(u), got["value_sum_1d"], got["value_count"],
             got["value_max_6h"]) for u, got in zip(users, fetched)]
    sdf = spark.createDataFrame(
        rows, schema="user_id long, sum_1d double, cnt_all long, max_6h double")
    return sdf.select(
        "user_id",
        (F.round(F.col("sum_1d") + F.lit(ROUND_EPS), 4) + F.lit(0.0)).alias("sum_1d"),
        "cnt_all",
        (F.round(F.col("max_6h") + F.lit(ROUND_EPS), 4) + F.lit(0.0)).alias("max_6h"),
    )


def o_online_fetch() -> str:
    T0 = 19_747 * MS_1D
    T1 = T0 + 10 * 3_600_000 + 420_000
    ms_6h, ms_5m = 6 * 3_600_000, 300_000
    tail_1d = ((T1 - MS_1D) // HOP_1H) * HOP_1H
    tail_6h = ((T1 - ms_6h) // ms_5m) * ms_5m
    return f"""
    WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id < 100),
    j AS (
      SELECT u.user_id, e.value AS v, epoch_ms(e.ts) AS ets
      FROM u LEFT JOIN events e
        ON e.user_id = u.user_id AND epoch_ms(e.ts) <= {T1}
    )
    SELECT user_id,
           round(sum(v) FILTER (WHERE ets >= {tail_1d}) + 0.0000001, 4)
             + 0.0 AS sum_1d,
           CASE WHEN count(v) = 0 THEN NULL ELSE count(v) END AS cnt_all,
           round(max(v) FILTER (WHERE ets >= {tail_6h}) + 0.0000001, 4)
             + 0.0 AS max_6h
    FROM j GROUP BY user_id
    """


_EPOCH_JAN16 = 19_738  # 2024-01-16 in epoch days; events span Jan 1-30
_DEL_LAG_MS = 1_800_000  # synthesized deletions land 30 min after insert


def q_entities_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal ENTITIES with TRUE deletions (SawtoothMutationAggregator,
    GroupBy.temporalEntities): a deterministic CDC feed derived from events
    — every event is a dimension INSERT; events with event_id % 3 == 0 are
    DELETED 30 min later (a before-image with the original row ts). Daily
    snapshot partitions ds=Jan15..29 hold the live rows as of end-of-day;
    day-d mutations replay on top of snapshot(d-1). Queries = the events of
    Jan 16-30 at their own ts. SUM/COUNT are the deletable tier
    (difference-array replay, operators/entities_temporal.py)."""
    from zipline_chronon_spark.api import EntitySource
    from zipline_chronon_spark.operators.entities_temporal import (
        compute_entities_temporal,
    )

    ev = _read_table(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "value", "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("its"),
    )
    rows = ev.select(
        "user_id", "value", "its",
        (F.col("its") / MS_1D).cast("long").alias("iday"),
        F.when(F.col("event_id") % 3 == 0,
               F.col("its") + _DEL_LAG_MS).alias("dts"),
        "event_id",
    )
    # a row is live in snapshot day d iff iday <= d and (not deleted, or
    # deleted at/after eod(d), i.e. d <= floor(dts/day) - 1); emit that
    # CONTIGUOUS day range with a map-side explode(sequence(...)) instead of
    # the old days-frame join — the non-equi join planned as a
    # BroadcastNestedLoopJoin evaluating 15 x |rows| predicates, while the
    # explode touches each row once (identical output rows)
    d_lo, d_hi = _EPOCH_JAN16 - 1, _EPOCH_JAN16 + 13
    d_start = F.greatest(F.col("iday"), F.lit(d_lo))
    d_end = F.least(
        F.lit(d_hi),
        F.coalesce((F.col("dts") / MS_1D).cast("long") - 1, F.lit(d_hi)))
    snap = (
        rows.where(d_start <= d_end)
        .select("user_id", "value", F.col("its").alias("ts"),
                F.explode(F.sequence(d_start, d_end)).alias("d"))
        .select("user_id", "value", "ts",
                F.date_format(F.expr("timestamp_millis(d * 86400000)"),
                              "yyyy-MM-dd").alias("ds"))
    )
    after = rows.where(F.col("iday") >= _EPOCH_JAN16).select(
        "user_id", "value", F.col("its").alias("ts"),
        F.col("its").alias("mutation_ts"), F.lit(False).alias("is_before"))
    before = rows.where(
        F.col("dts").isNotNull()
        & ((F.col("dts") / MS_1D).cast("long") >= _EPOCH_JAN16)).select(
        "user_id", "value", F.col("its").alias("ts"),
        F.col("dts").alias("mutation_ts"), F.lit(True).alias("is_before"))
    snap.createOrReplaceTempView("zcs_ent_snap")
    after.unionByName(before).createOrReplaceTempView("zcs_ent_mut")

    gb = GroupBy(
        name="entt",
        sources=(EntitySource(
            snapshot_table="zcs_ent_snap",
            mutation_table="zcs_ent_mut",
            query=Query(time_column="ts"),
        ),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(W7D,)),
            Aggregation("value", Operation.COUNT, windows=(None,)),
        ),
    )
    q = ev.where((F.col("its") / MS_1D).cast("long") >= _EPOCH_JAN16).select(
        "user_id", F.col("its").alias("qts"),
        F.col("event_id").alias("__row_id"))
    out = compute_entities_temporal(spark, gb, q, row_id="__row_id",
                                    query_time_col="qts")
    return out.select(
        F.col("__row_id").alias("event_id"),
        (F.round(F.col("value_sum_7d") + F.lit(ROUND_EPS), 4)
         + F.lit(0.0)).alias("sum_7d"),
        F.col("value_count").alias("cnt_all"),
    )


def o_entities_temporal() -> str:
    # visibility of row r at query (d, T): inserted-visible (past days via
    # the snapshot, same-day strictly before T) and not deleted-visible
    # (deleted on a past day -> absent from snapshot; deleted today before
    # T -> subtracted by the before-image); 7d window = hop-aligned tail on
    # the ROW ts, unbounded COUNT has no tail.
    t7 = f"its >= ((qts - {MS_7D}) // {HOP_1H}) * {HOP_1H}"
    return f"""
    WITH r AS (
      SELECT user_id, value, event_id,
             epoch_ms(ts) AS its, epoch_ms(ts) // 86400000 AS iday,
             CASE WHEN event_id % 3 = 0 THEN epoch_ms(ts) + {_DEL_LAG_MS} END AS dts
      FROM events
    ),
    q AS (SELECT event_id, user_id, its AS qts, iday AS d
          FROM r WHERE iday >= {_EPOCH_JAN16}),
    j AS (
      SELECT q.event_id, q.qts, r.value AS v, r.its
      FROM q LEFT JOIN r ON r.user_id = q.user_id
        AND (CASE WHEN r.iday < q.d THEN TRUE ELSE r.its < q.qts END)
        AND (r.dts IS NULL OR (CASE WHEN r.dts // 86400000 < q.d THEN FALSE
                                    WHEN r.dts // 86400000 = q.d THEN r.dts >= q.qts
                                    ELSE TRUE END))
    )
    SELECT event_id,
           round(sum(v) FILTER (WHERE {t7}) + 0.0000001, 4) + 0.0 AS sum_7d,
           CASE WHEN count(v) = 0 THEN NULL ELSE count(v) END AS cnt_all
    FROM j GROUP BY event_id, qts
    """


_ENTOL_DAY = _EPOCH_JAN16 + 9          # serving day d = 2024-01-25
_ENTOL_T1 = _ENTOL_DAY * MS_1D + 10 * 3_600_000 + 420_000  # +10h07m, unaligned


def q_entity_online_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE serving of temporal entities (streaming mutation path,
    round-4: online/entity_serving.py): batch-upload the snapshot partition
    of day d-1 as collapsed IR + tail-hop tiles, stream day-d CDC mutations
    (with before-images) into KV, then EntityFetcher.fetch at a
    non-aligned T1 for every key — the online analogue of the
    `entities_temporal` row, oracle-gated. Because every insert lands at
    its own ts and deletions land 30 min later, a row is visible at T1 iff
    its insert ts < T1 and its deletion (if any) is >= T1 — which is
    exactly what the lambda merge (snapshot IRs +/- signed mutations) must
    reproduce. (Reference: streaming/GroupBy.scala:90-143 entity decode;
    SawtoothMutationAggregator.scala:28-228.)"""
    from zipline_chronon_spark.api import EntitySource
    from zipline_chronon_spark.online.entity_serving import (
        EntityFetcher, upload_entity_batch_state, upload_mutation_events)
    from zipline_chronon_spark.online.kv import InMemoryKv

    d, T1 = _ENTOL_DAY, _ENTOL_T1
    ev = (_read_table(spark, f"{sf_dir}/events.parquet")
          .where("user_id < 100")
          .select("user_id", "value", "event_id",
                  F.unix_millis(F.col("ts").cast("timestamp")).alias("its")))
    rows = ev.select(
        "user_id", "value", "its",
        (F.col("its") / MS_1D).cast("long").alias("iday"),
        F.when(F.col("event_id") % 3 == 0,
               F.col("its") + _DEL_LAG_MS).alias("dts"))
    # snapshot partition d-1: rows live at end of day d-1
    eod = d * MS_1D
    snap = (rows.where((F.col("its") < eod)
                       & (F.col("dts").isNull() | (F.col("dts") >= eod)))
            .select("user_id", "value", F.col("its").alias("ts"),
                    F.date_format(F.expr(f"timestamp_millis({eod - MS_1D})"),
                                  "yyyy-MM-dd").alias("ds")))
    # day-d mutations: same-day inserts (after-images) + deletions landing
    # on day d (before-images carrying the ORIGINAL row ts)
    after = (rows.where((F.col("its") >= eod) & (F.col("its") < eod + MS_1D))
             .select("user_id", "value", F.col("its").alias("ts"),
                     F.col("its").alias("mutation_ts"),
                     F.lit(False).alias("is_before")))
    before = (rows.where(F.col("dts").isNotNull()
                         & (F.col("dts") >= eod) & (F.col("dts") < eod + MS_1D))
              .select("user_id", "value", F.col("its").alias("ts"),
                      F.col("dts").alias("mutation_ts"),
                      F.lit(True).alias("is_before")))
    snap.createOrReplaceTempView("zcs_entol_snap")
    after.unionByName(before).createOrReplaceTempView("zcs_entol_mut")

    gb = GroupBy(
        name="entol",
        sources=(EntitySource(snapshot_table="zcs_entol_snap",
                              mutation_table="zcs_entol_mut",
                              query=Query(time_column="ts")),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(W7D,)),
            Aggregation("value", Operation.COUNT, windows=(None,)),
        ),
    )
    kv = InMemoryKv()
    ds = F.date_format(F.expr(f"timestamp_millis({eod})"), "yyyy-MM-dd")
    ds_str = spark.range(1).select(ds.alias("d")).collect()[0]["d"]
    upload_entity_batch_state(kv, spark, gb, ds_str)
    upload_mutation_events(kv, spark, gb, eod - 1, T1)
    f = EntityFetcher(kv, gb)
    users = sorted(int(r[0]) for r in ev.select("user_id").distinct().collect())
    fetched = f.fetch_batch([(u,) for u in users], at_ts_ms=T1)
    out = [(u, got["value_sum_7d"], got["value_count"])
           for u, got in zip(users, fetched)]
    sdf = spark.createDataFrame(
        out, schema="user_id long, sum_7d double, cnt_all long")
    return sdf.select(
        "user_id",
        (F.round(F.col("sum_7d") + F.lit(ROUND_EPS), 4) + F.lit(0.0)).alias("sum_7d"),
        "cnt_all")


def o_entity_online_fetch() -> str:
    d, T1 = _ENTOL_DAY, _ENTOL_T1
    tail7 = ((T1 - MS_7D) // HOP_1H) * HOP_1H
    return f"""
    WITH r AS (
      SELECT user_id, value,
             epoch_ms(ts) AS its,
             CASE WHEN event_id % 3 = 0 THEN epoch_ms(ts) + {_DEL_LAG_MS} END AS dts
      FROM events WHERE user_id < 100
    ),
    u AS (SELECT DISTINCT user_id FROM r),
    vis AS (SELECT * FROM r WHERE its < {T1} AND (dts IS NULL OR dts >= {T1}))
    SELECT u.user_id,
           round(sum(vis.value) FILTER (WHERE vis.its >= {tail7})
                 + {ROUND_EPS}, 4) + 0.0 AS sum_7d,
           CASE WHEN count(vis.value) = 0 THEN NULL
                ELSE count(vis.value) END AS cnt_all
    FROM u LEFT JOIN vis ON vis.user_id = u.user_id
    GROUP BY u.user_id
    """


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift job (Summarizer.scala / DriftMetrics shape): per-day column
    summaries over events (global-edge 20-bin histograms for `value`,
    value-identity bins for the 5-cardinality `event_type`), then PSI of
    each day vs the previous day."""
    from zipline_chronon_spark.plans.drift import drift_series, summarize_partitions

    ev = (_read_table(spark, f"{sf_dir}/events.parquet")
          .select(F.date_format("ts", "yyyy-MM-dd").alias("ds"),
                  "value", "event_type"))
    summ = summarize_partitions(spark, ev, cols=["value", "event_type"],
                                bins=20, top_k=20)
    out = drift_series(summ, metric="psi", offset=1)
    return out.select(
        "ds", "vs_ds", F.col("column").alias("col"),
        (F.round(F.col("psi") + F.lit(ROUND_EPS), 6) + F.lit(0.0)).alias("psi"))


def o_drift_psi() -> str:
    # replays the job exactly: global [min,max] equi-width bins (truncating
    # cast == floor on the non-negative offsets), +1e-9 on the UNION of
    # bins, normalize, sum((a-b)*ln(a/b)). event_type has 5 values < top_k
    # so its string bins are the identity.
    return """
    WITH src AS (SELECT strftime(ts, '%Y-%m-%d') AS ds, value, event_type FROM events),
    eg AS (SELECT min(value)::DOUBLE lo, max(value)::DOUBLE hi FROM src),
    binned AS (
      SELECT ds, 'value' AS col,
             CAST(CAST(least(floor((value - lo) / ((hi - lo) / 20)), 19) AS BIGINT) AS VARCHAR) AS bin
      FROM src, eg WHERE value IS NOT NULL
      UNION ALL
      SELECT ds, 'event_type', event_type FROM src WHERE event_type IS NOT NULL
    ),
    hist AS (SELECT ds, col, bin, count(*)::DOUBLE n FROM binned GROUP BY ds, col, bin),
    days AS (SELECT DISTINCT ds FROM src),
    pairs AS (SELECT ds, lag(ds) OVER (ORDER BY ds) AS vs_ds FROM days),
    k AS (
      SELECT p.ds, p.vs_ds, h.col, h.bin
      FROM pairs p JOIN hist h ON h.ds IN (p.ds, p.vs_ds)
      WHERE p.vs_ds IS NOT NULL
      GROUP BY p.ds, p.vs_ds, h.col, h.bin
    ),
    j AS (
      SELECT k.ds, k.vs_ds, k.col, k.bin,
             coalesce(hc.n, 0) + 0.000000001 AS a_raw,
             coalesce(hp.n, 0) + 0.000000001 AS b_raw
      FROM k
      LEFT JOIN hist hc ON hc.ds = k.ds AND hc.col = k.col AND hc.bin = k.bin
      LEFT JOIN hist hp ON hp.ds = k.vs_ds AND hp.col = k.col AND hp.bin = k.bin
    ),
    norm AS (
      SELECT ds, vs_ds, col,
             a_raw / sum(a_raw) OVER (PARTITION BY ds, vs_ds, col) AS a,
             b_raw / sum(b_raw) OVER (PARTITION BY ds, vs_ds, col) AS b
      FROM j
    )
    SELECT ds, vs_ds, col,
           round(sum((a - b) * ln(a / b)) + 0.0000001, 6) + 0.0 AS psi
    FROM norm GROUP BY ds, vs_ds, col
    """


def q_snapshot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT (daily) accuracy: per (user, day) features over calendar-day
    windows ending at end-of-day (GroupBy.snapshotEvents semantics)."""
    from zipline_chronon_spark.api import Accuracy
    from zipline_chronon_spark.operators.pit_join import compute_snapshot

    gb = GroupBy(
        name="snapd",
        sources=(_events_source(sf_dir),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.COUNT, windows=(W7D, None)),
            Aggregation("value", Operation.SUM, windows=(W7D,)),
        ),
        accuracy=Accuracy.SNAPSHOT,
        tie_breaker_column="event_id",
    )
    out = compute_snapshot(spark, gb)
    return out.select(
        "user_id", "ds",
        F.col("value_count_7d").alias("cnt_7d"),
        F.col("value_count").alias("cnt_all"),
        F.round(F.col("value_sum_7d") + F.lit(ROUND_EPS), 4).alias("sum_7d"),
    )


def o_snapshot_daily() -> str:
    return """
    WITH days AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
    j AS (
      SELECT q.user_id, q.day, e.value AS v, epoch_ms(e.ts) AS ets
      FROM days q LEFT JOIN events e
        ON e.user_id = q.user_id AND epoch_ms(e.ts) < (q.day + 1) * 86400000
    )
    SELECT user_id,
           strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS ds,
           CASE WHEN count(v) FILTER (WHERE ets >= (day + 1 - 7) * 86400000) = 0 THEN NULL
                ELSE count(v) FILTER (WHERE ets >= (day + 1 - 7) * 86400000) END AS cnt_7d,
           CASE WHEN count(v) = 0 THEN NULL ELSE count(v) END AS cnt_all,
           round(sum(v) FILTER (WHERE ets >= (day + 1 - 7) * 86400000) + 0.0000001, 4) AS sum_7d
    FROM j GROUP BY user_id, day
    """


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity) + 0.0000001, 4) AS sum_qty,
       count(*) AS n,
       round(avg(l_quantity) + 0.0000001, 4) AS avg_qty,
       round(avg(l_extendedprice * (1 - l_discount)) + 0.0000001, 4) AS avg_disc_price
FROM {table}
WHERE l_shipdate >= '{{{{ start_date }}}}' AND l_shipdate < '{{{{ end_date }}}}'
GROUP BY l_returnflag, l_linestatus
"""


def q_staging_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StagingQuery: free-form SQL with rendered date macros (TPC-H-Q1-ish)."""
    from zipline_chronon_spark.plans.staging import StagingQuery, run

    sq = StagingQuery(
        name="pricing",
        query=_PRICING_SQL.format(table=f"parquet.`{sf_dir}/lineitem.parquet`"),
    )
    return run(spark, sq, "1999-01-01", "2001-01-01")


def o_staging_pricing() -> str:
    return _PRICING_SQL.format(table="lineitem").replace(
        "{{ start_date }}", "1999-01-01").replace("{{ end_date }}", "2001-01-01")


def q_approx_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-IR batch serving (operators/approx_engine.py): the same
    sawtooth rule as the exact engine, served from per-(key, hop-tile) IRs
    plus exact head events, cogrouped by key with two-stack sketch merges.
    At driver scale every sketch is in its exact regime (HLL sparse,
    KLL buffer, Misra-Gries under capacity), so the DuckDB oracle is exact.
    Aggs chosen tie-insensitive (no FIRST/LAST): the IR tier has no
    tie-breaker column. Covers windowed + unbounded (collapsed-IR) paths."""
    from zipline_chronon_spark.operators.approx_engine import compute_group_by_approx

    gb = _events_gb(sf_dir, "approx_serve", (
        Aggregation("value", Operation.SUM, windows=(W1D, None)),
        Aggregation("value", Operation.COUNT, windows=(W7D,)),
        Aggregation("value", Operation.MIN, windows=(W7D,)),
        Aggregation("value", Operation.MAX, windows=(W1D,)),
        Aggregation("value", Operation.AVERAGE, windows=(W7D,)),
        Aggregation("event_type", Operation.APPROX_UNIQUE_COUNT,
                    windows=(W7D, None)),
        Aggregation("value", Operation.APPROX_PERCENTILE,
                    arg_map=(("percentiles", "[0.5, 0.95]"),), windows=(W7D,)),
    ))
    left = (
        _read_table(spark, f"{sf_dir}/events.parquet")
        .select("user_id", "ts", F.col("event_id").alias("__row_id"))
    )
    res = compute_group_by_approx(spark, gb, left, row_id="__row_id")
    return res.select(
        F.col("__row_id").alias("event_id"),
        F.round(F.col("value_sum_1d") + F.lit(ROUND_EPS), 4).alias("sum_1d"),
        F.round(F.col("value_sum") + F.lit(ROUND_EPS), 4).alias("sum_all"),
        F.col("value_count_7d").alias("cnt_7d"),
        F.col("value_min_7d").alias("min_7d"),
        F.col("value_max_1d").alias("max_1d"),
        F.round(F.col("value_average_7d") + F.lit(ROUND_EPS), 4).alias("avg_7d"),
        F.col("event_type_approx_unique_count_7d").alias("auc_7d"),
        F.col("event_type_approx_unique_count").alias("auc_all"),
        F.round(F.col("value_approx_percentile_7d")[0] + F.lit(ROUND_EPS), 4)
        .alias("p50_7d"),
        F.round(F.col("value_approx_percentile_7d")[1] + F.lit(ROUND_EPS), 4)
        .alias("p95_7d"),
    )


def o_approx_serve() -> str:
    t1, t7 = _tail(MS_1D, HOP_1H), _tail(MS_7D, HOP_1H)
    return _oracle(
        f"""
        round(sum(v) FILTER (WHERE {t1}) + 0.0000001, 4) AS sum_1d,
        round(sum(v) + 0.0000001, 4) AS sum_all,
        CASE WHEN count(v) FILTER (WHERE {t7}) = 0 THEN NULL
             ELSE count(v) FILTER (WHERE {t7}) END AS cnt_7d,
        min(v) FILTER (WHERE {t7}) AS min_7d,
        max(v) FILTER (WHERE {t1}) AS max_1d,
        round(avg(v) FILTER (WHERE {t7}) + 0.0000001, 4) AS avg_7d,
        CASE WHEN count(et) FILTER (WHERE {t7}) = 0 THEN NULL
             ELSE count(DISTINCT et) FILTER (WHERE {t7}) END AS auc_7d,
        CASE WHEN count(et) = 0 THEN NULL
             ELSE count(DISTINCT et) END AS auc_all,
        round(quantile_cont(v, 0.5) FILTER (WHERE {t7}) + 0.0000001, 4) AS p50_7d,
        round(quantile_cont(v, 0.95) FILTER (WHERE {t7}) + 0.0000001, 4) AS p95_7d
        """
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship point-in-time Join over sf0.001 (driver smoke check)."""
    return q_join_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pit_count_sum": q_pit_count_sum,
        "pit_min_max_avg": q_pit_min_max_avg,
        "pit_recency": q_pit_recency,
        "pit_distinct_var_pctl": q_pit_distinct_var_pctl,
        "pit_topk": q_pit_topk,
        "pit_skew_kurt": q_pit_skew_kurt,
        "pit_histogram": q_pit_histogram,
        "pit_bucketed": q_pit_bucketed,
        "pit_vector_map": q_pit_vector_map,
        "approx_serve": q_approx_serve,
        "lag_lead": q_lag_lead,
        "sessionize": q_sessionize,
        "join_flagship": q_join_flagship,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_groups": q_dedup_groups,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "text_features": q_text_features,
        "fingerprint": q_fingerprint,
        "multimodal_meta": q_multimodal_meta,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "join_snapshot": q_join_snapshot,
        "entities_temporal": q_entities_temporal,
        "entity_online_fetch": q_entity_online_fetch,
        "online_fetch": q_online_fetch,
        "drift_psi": q_drift_psi,
        "snapshot_daily": q_snapshot_daily,
        "staging_pricing": q_staging_pricing,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pit_count_sum": o_pit_count_sum(),
        "pit_min_max_avg": o_pit_min_max_avg(),
        "pit_recency": o_pit_recency(),
        "pit_distinct_var_pctl": o_pit_distinct_var_pctl(),
        "pit_topk": o_pit_topk(),
        "pit_skew_kurt": o_pit_skew_kurt(),
        "pit_histogram": o_pit_histogram(),
        "pit_bucketed": o_pit_bucketed(),
        "pit_vector_map": o_pit_vector_map(),
        "approx_serve": o_approx_serve(),
        "lag_lead": o_lag_lead(),
        "sessionize": o_sessionize(),
        "join_flagship": o_join_flagship(),
        "dedup_exact": o_dedup_exact(),
        "dedup_ngram_jaccard": o_dedup_ngram_jaccard(),
        "dedup_minhash_sig": o_dedup_minhash_sig(),
        "dedup_minhash_lsh": o_dedup_minhash_lsh(),
        "dedup_groups": o_dedup_groups(),
        "dedup_simhash": o_dedup_simhash(),
        "dedup_embedding": o_dedup_embedding(),
        "text_features": o_text_features(),
        "fingerprint": o_fingerprint(),
        "multimodal_meta": o_multimodal_meta(),
        "ann_cosine_topk": o_ann_cosine_topk(),
        "ann_lsh_topk": o_ann_lsh_topk(),
        "ann_ivf_topk": o_ann_ivf_topk(),
        "join_snapshot": o_join_snapshot(),
        "entities_temporal": o_entities_temporal(),
        "entity_online_fetch": o_entity_online_fetch(),
        "online_fetch": o_online_fetch(),
        "drift_psi": o_drift_psi(),
        "snapshot_daily": o_snapshot_daily(),
        "staging_pricing": o_staging_pricing(),
    }
