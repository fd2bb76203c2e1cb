"""Offline/online ConsistencyJob: log online fetches, diff them against the
offline join backfill.

Reference shape: the Fetcher logs every served response; ConsistencyJob
joins the log table to the offline join output on the request keys and
emits per-column agreement metrics — match rate, numeric deltas with
percentiles, string edit distance (spark/.../stats/CompareJob.scala,
ConsistencyJob.scala, aggregator/.../stats/EditDistance.scala). Here:

  log = FetchLog(); jf = LoggingJoinFetcher(kv, join, log=log, ...)
  ... serve traffic (each fetch_join appends a log record) ...
  report = consistency_report(spark, log.to_df(spark), offline_df,
                              key_cols=[...])

The diff runs as ONE Spark plan: an equi-join on the request keys followed
by a single aggregate — per-column comparisons are JVM expressions
(null-safe equality, abs deltas, built-in levenshtein), so the job scales
to production log volumes (logs and the offline join shuffle once, on the
request keys).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zipline_chronon_spark.online.fetcher import JoinFetcher

ONLINE_PREFIX = "__online_"


class FetchLog:
    """Driver-side collecting sink for served responses (the sandbox
    analogue of the reference's log-to-Kafka landed table; swap to_df for a
    table scan in production)."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def append(self, left_row: dict, at_ts_ms: Optional[int], response: dict) -> None:
        self.records.append({"left": dict(left_row), "ts": at_ts_ms,
                             "response": dict(response)})

    def to_df(self, spark: SparkSession) -> DataFrame:
        """One row per logged fetch: left key columns + response columns
        prefixed ONLINE_PREFIX (so they never collide with offline names)."""
        if not self.records:
            raise ValueError("empty fetch log")
        from zipline_chronon_spark.operators.derive import _infer_type
        from pyspark.sql import types as T

        rows = [{**r["left"], "__fetch_ts": r["ts"],
                 **{f"{ONLINE_PREFIX}{c}": v for c, v in r["response"].items()}}
                for r in self.records]
        cols = list(dict.fromkeys(c for r in rows for c in r))
        fields = []
        for c in cols:
            v = next((r[c] for r in rows if r.get(c) is not None), None)
            fields.append(T.StructField(c, _infer_type(v), True))
        return spark.createDataFrame(
            [tuple(r.get(c) for c in cols) for r in rows], T.StructType(fields))


class LoggingJoinFetcher(JoinFetcher):
    """JoinFetcher that appends every served response to a FetchLog."""

    def __init__(self, kv, join, external_handlers=None, spark=None,
                 log: Optional[FetchLog] = None):
        super().__init__(kv, join, external_handlers=external_handlers, spark=spark)
        self.log = log if log is not None else FetchLog()

    def fetch_join(self, left_row: dict, at_ts_ms: Optional[int] = None,
                   derive: bool = True) -> dict:
        out = super().fetch_join(left_row, at_ts_ms=at_ts_ms, derive=derive)
        self.log.append(left_row, at_ts_ms, out)
        return out


def consistency_report(
    spark: SparkSession,
    logged: DataFrame,
    offline: DataFrame,
    key_cols: Sequence[str],
    float_tol: float = 1e-6,
) -> dict:
    """Diff logged online responses against the offline join output.

    ``logged``: FetchLog.to_df output (or a production log table with the
    same shape). ``offline``: the offline join result (compute_join /
    JoinBackfill merged table). Compared columns = every ONLINE_PREFIX
    column whose unprefixed name exists in ``offline``.

    Returns {"n_logged", "n_joined", "overall_match_rate", "columns":
    {col: {"n", "matches", "match_rate", + numeric (max/mean/p95 abs delta)
    or string (mean/max edit distance) extras}}}.
    """
    online_cols = [c[len(ONLINE_PREFIX):] for c in logged.columns
                   if c.startswith(ONLINE_PREFIX)]
    compared = [c for c in online_cols if c in offline.columns]
    if not compared:
        raise ValueError(
            f"no comparable columns: online {sorted(online_cols)} vs offline "
            f"{sorted(offline.columns)}")

    # project the log to keys + prefixed response columns: its unprefixed
    # request columns (e.g. the left ts) would otherwise collide with
    # offline's identically-named columns in the join
    lg = logged.select(*key_cols,
                       *[f"{ONLINE_PREFIX}{c}" for c in online_cols])
    j = lg.join(offline, list(key_cols), "inner")
    aggs = [F.count(F.lit(1)).alias("__n")]
    numeric = {"double", "float", "long", "integer", "short", "byte", "decimal"}
    kinds: dict[str, str] = {}
    for c in compared:
        oc, fc = F.col(f"{ONLINE_PREFIX}{c}"), F.col(c)
        dt = offline.schema[c].dataType.typeName()
        if dt in numeric:
            kinds[c] = "numeric"
            delta = F.abs(oc.cast("double") - fc.cast("double"))
            match = (oc.isNull() & fc.isNull()) | (delta <= float_tol)
            aggs += [F.sum(match.cast("long")).alias(f"__m_{c}"),
                     F.max(delta).alias(f"__dmax_{c}"),
                     F.avg(delta).alias(f"__davg_{c}"),
                     F.percentile_approx(delta, 0.95).alias(f"__dp95_{c}")]
        elif dt == "string":
            kinds[c] = "string"
            ed = F.levenshtein(oc, fc)
            match = oc.eqNullSafe(fc)
            aggs += [F.sum(match.cast("long")).alias(f"__m_{c}"),
                     F.avg(ed).alias(f"__edavg_{c}"),
                     F.max(ed).alias(f"__edmax_{c}")]
        else:
            kinds[c] = "other"
            # map/array/struct: null-safe equality via canonical JSON
            match = F.to_json(oc).eqNullSafe(F.to_json(fc)) | (oc.isNull() & fc.isNull())
            aggs.append(F.sum(match.cast("long")).alias(f"__m_{c}"))
    row = j.agg(*aggs).collect()[0].asDict()

    n = int(row["__n"])
    cols_out: dict[str, dict] = {}
    total_m = 0
    for c in compared:
        m = int(row[f"__m_{c}"] or 0)
        total_m += m
        d = {"n": n, "matches": m, "match_rate": (m / n) if n else None}
        if kinds[c] == "numeric":
            d.update(max_abs_delta=row[f"__dmax_{c}"],
                     mean_abs_delta=row[f"__davg_{c}"],
                     p95_abs_delta=row[f"__dp95_{c}"])
        elif kinds[c] == "string":
            d.update(mean_edit_distance=row[f"__edavg_{c}"],
                     max_edit_distance=row[f"__edmax_{c}"])
        cols_out[c] = d
    return {
        "n_logged": logged.count(),
        "n_joined": n,
        "overall_match_rate": (total_m / (n * len(compared))) if n else None,
        "columns": cols_out,
    }
