"""Spec dataclasses — the user-facing declaration layer.

Mirrors the reference's Thrift IDL field names (thrift/api.thrift) so a
Chronon user can map their configs 1:1, but these are plain Python
dataclasses compiled straight to Spark plans (no Thrift, no JSON round
trip).

Reference citations:
 - Operation enum: thrift/api.thrift:198-230
 - Window / TimeUnit: thrift/common.thrift:5-14
 - Aggregation / unpacking to parts: api.thrift:238-273,
   api/src/main/scala/ai/chronon/api/Extensions.scala:283-305
 - output column naming: Extensions.scala:263-277 (window suffix :75-79)
 - GroupBy / Join / JoinPart: api.thrift:366-440
 - hop resolution: aggregator/.../windowing/Resolution.scala:38-48
"""

from __future__ import annotations

import enum
import re
from dataclasses import dataclass, field
from typing import Optional

MILLIS_MINUTE = 60_000
MILLIS_HOUR = 3_600_000
MILLIS_DAY = 86_400_000


class TimeUnit(enum.Enum):
    MINUTES = MILLIS_MINUTE
    HOURS = MILLIS_HOUR
    DAYS = MILLIS_DAY

    @property
    def suffix(self) -> str:
        return {"MINUTES": "m", "HOURS": "h", "DAYS": "d"}[self.name]


@dataclass(frozen=True)
class Window:
    """Trailing as-of window (not a calendar window). thrift/common.thrift:5-14."""

    length: int
    time_unit: TimeUnit

    @property
    def millis(self) -> int:
        return self.length * self.time_unit.value

    @property
    def suffix(self) -> str:
        # Extensions.scala:75-79 — e.g. "_30d", "_1h", "_5m"
        return f"_{self.length}{self.time_unit.suffix}"

    def tail_hop_millis(self) -> int:
        """Sawtooth tail resolution. Resolution.scala:38-48 (FiveMinuteResolution):
        >= 12 days -> 1 day hop; >= 12 hours -> 1 hour; else 5 minutes."""
        m = self.millis
        if m >= 12 * MILLIS_DAY:
            return MILLIS_DAY
        if m >= 12 * MILLIS_HOUR:
            return MILLIS_HOUR
        return 5 * MILLIS_MINUTE

    def tail_start(self, t):
        """Start of the sawtooth window at query time ``t`` (an int or an
        int64 numpy array): ``t - millis`` rounded down to the tail hop."""
        hop = self.tail_hop_millis()
        return ((t - self.millis) // hop) * hop


class Operation(enum.Enum):
    # thrift/api.thrift:198-230 — same enum values
    MIN = 0
    MAX = 1
    FIRST = 2
    LAST = 3
    UNIQUE_COUNT = 4
    APPROX_UNIQUE_COUNT = 5
    COUNT = 6
    SUM = 7
    AVERAGE = 8
    VARIANCE = 9
    SKEW = 10
    KURTOSIS = 11
    APPROX_PERCENTILE = 12
    LAST_K = 13
    FIRST_K = 14
    TOP_K = 15
    BOTTOM_K = 16
    HISTOGRAM = 17
    APPROX_FREQUENT_K = 18
    APPROX_HEAVY_HITTERS_K = 19
    UNIQUE_TOP_K = 20


class Accuracy(enum.Enum):
    # api.thrift:275-278
    TEMPORAL = 0
    SNAPSHOT = 1


@dataclass(frozen=True)
class Query:
    """Row-level projection + filters applied at scan. api.thrift:10-61.

    ``selects`` maps output column name -> Spark SQL expression; ``wheres``
    is a list of SQL predicates ANDed together; ``time_column`` is a SQL
    expression producing the event time (timestamp or epoch-millis long).
    """

    selects: Optional[dict[str, str]] = None
    wheres: tuple[str, ...] = ()
    time_column: str = "ts"
    setups: tuple[str, ...] = ()


@dataclass(frozen=True)
class EventSource:
    """Immutable, date-partitioned fact table. api.thrift:112-132.

    ``is_cumulative``: each ds partition holds the COMPLETE history up to
    that day, so only the latest partition is scanned (reference
    GroupBy.scala:759-764 SourceDataProfile(latestValid, ...)); scanning
    all partitions would double-count. ``partition_column`` names the
    table's date partition and is only consulted for cumulative sources."""

    table: str  # table name or parquet path (path if contains '/')
    query: Query = field(default_factory=Query)
    is_cumulative: bool = False
    partition_column: str = "ds"


@dataclass(frozen=True)
class EntitySource:
    """Mutable dimension: daily ``snapshot_table`` (+ optional CDC
    ``mutation_table``, out of v1 scope). api.thrift:142-162. With SNAPSHOT
    accuracy each ds partition is a full copy of the table and aggregates
    independently (GroupBy.snapshotEntities, GroupBy.scala:115-162)."""

    snapshot_table: str
    query: Query = field(default_factory=Query)
    mutation_table: Optional[str] = None
    partition_column: str = "ds"


@dataclass(frozen=True)
class JoinSource:
    """Output of one Join used as the source of a downstream GroupBy —
    feature chaining. api.thrift:186-189. ``join`` is the upstream Join
    spec; ``query`` projects/filters its output like any source."""

    join: "Join"
    query: Query = field(default_factory=Query)


_CLEAN = re.compile(r"[^a-zA-Z0-9]+")


def _clean(name: str) -> str:
    return _CLEAN.sub("_", name).strip("_").lower()


@dataclass(frozen=True)
class AggregationPart:
    """Fully unpacked unit: one (input, op, window, bucket) = one output
    column. api.thrift:267-273."""

    input_column: str
    operation: Operation
    arg_map: tuple[tuple[str, str], ...] = ()
    window: Optional[Window] = None
    bucket: Optional[str] = None

    @property
    def args(self) -> dict[str, str]:
        return dict(self.arg_map)

    @property
    def k(self) -> Optional[int]:
        v = self.args.get("k")
        return int(v) if v is not None else None

    @property
    def percentiles(self) -> list[float]:
        return [float(p) for p in self.args.get("percentiles", "[0.5]").strip("[] ").split(",")]

    @property
    def output_name(self) -> str:
        # Extensions.scala:263-277 outputColumnName / opSuffix:
        #   LAST_K -> last{k}, FIRST_K -> first{k}, TOP_K -> top{k},
        #   BOTTOM_K -> bottom{k}, UNIQUE_TOP_K -> unique_top{k},
        #   everything else -> lowercase op name.
        op = self.operation
        suffix_map = {
            Operation.LAST_K: "last",
            Operation.FIRST_K: "first",
            Operation.TOP_K: "top",
            Operation.BOTTOM_K: "bottom",
            Operation.UNIQUE_TOP_K: "unique_top",
        }
        if op in suffix_map:
            op_suffix = f"{suffix_map[op]}{self.k}"
        else:
            op_suffix = op.name.lower()
        win = self.window.suffix if self.window is not None else ""
        bucket = f"_by_{_clean(self.bucket)}" if self.bucket else ""
        return f"{_clean(self.input_column)}_{op_suffix}{win}{bucket}"


@dataclass(frozen=True)
class Aggregation:
    """One aggregation x W windows x B buckets -> W*B output columns.
    api.thrift:238-264; unpack per Extensions.scala:283-305."""

    input_column: str
    operation: Operation
    arg_map: tuple[tuple[str, str], ...] = ()
    windows: tuple[Optional[Window], ...] = (None,)
    buckets: tuple[Optional[str], ...] = (None,)

    def unpack(self) -> list[AggregationPart]:
        return [
            AggregationPart(self.input_column, self.operation, self.arg_map, w, b)
            for w in (self.windows or (None,))
            for b in (self.buckets or (None,))
        ]


@dataclass(frozen=True)
class Derivation:
    """Named Spark-SQL expression over output columns. api.thrift:398-404.
    name == "*" means 'keep all base columns' wildcard."""

    name: str
    expression: str


@dataclass(frozen=True)
class GroupBy:
    """Keyed windowed aggregation spec ("FeatureSet"). api.thrift:366-380."""

    name: str
    sources: tuple[EventSource, ...]
    key_columns: tuple[str, ...]
    aggregations: tuple[Aggregation, ...]
    accuracy: Accuracy = Accuracy.TEMPORAL
    derivations: tuple[Derivation, ...] = ()
    # Deterministic order among equal-ts events (the reference sorts by ts
    # only, UnionJoin.scala:92-106; we pin ties for the "stable turn
    # ordering" invariant). Must be one of the selected columns.
    tie_breaker_column: Optional[str] = None

    def parts(self) -> list[AggregationPart]:
        out: list[AggregationPart] = []
        for agg in self.aggregations:
            out.extend(agg.unpack())
        names = [p.output_name for p in out]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise ValueError(f"duplicate output columns in GroupBy {self.name}: {dupes}")
        return out

    def max_window_millis(self) -> Optional[int]:
        """None if any part is unbounded (needs all history)."""
        ms = 0
        for p in self.parts():
            if p.window is None:
                return None
            ms = max(ms, p.window.millis)
        return ms


@dataclass(frozen=True)
class JoinPart:
    """A GroupBy attached to a Join left. api.thrift:382-388."""

    group_by: GroupBy
    key_mapping: tuple[tuple[str, str], ...] = ()  # (left col -> right key)
    prefix: Optional[str] = None

    @property
    def full_prefix(self) -> str:
        # api.thrift:425-432 — part columns named {prefix}_{group_by_name}_{col}
        base = _clean(self.group_by.name)
        return f"{_clean(self.prefix)}_{base}" if self.prefix else base

    def left_to_right(self) -> dict[str, str]:
        return dict(self.key_mapping)


@dataclass(frozen=True)
class BootstrapPart:
    """Precomputed table left-joined onto the left to pre-fill feature
    columns (skipping recomputation wins via coalesce precedence).
    api.thrift:442-449, batch/JoinBootstrapJob.scala."""

    table: str
    key_columns: tuple[str, ...]  # join keys into the left (usually rowIds)
    wheres: tuple[str, ...] = ()


@dataclass(frozen=True)
class ExternalSource:
    """A feature source served by a user-registered handler at FETCH time
    (api.thrift:164-168: name + key/value schemas). The engine never
    computes these; it routes key values to the handler and merges the
    response (online/fetcher.py JoinFetcher)."""

    name: str
    key_columns: tuple[str, ...]
    value_columns: tuple[str, ...]


@dataclass(frozen=True)
class ExternalPart:
    """External source attached to a Join — ONLINE ONLY (api.thrift:390-396
    + :419-421: 'Offline this will not produce any values'; offline
    backfills fill these columns via bootstrap tables). Column naming:
    ``{prefix}_ext_{source_name}_{value_column}`` (api.thrift:434-436)."""

    source: ExternalSource
    key_mapping: tuple[tuple[str, str], ...] = ()  # left col -> source key
    prefix: Optional[str] = None

    def column_name(self, value_col: str) -> str:
        base = f"ext_{_clean(self.source.name)}_{value_col}"
        return f"{_clean(self.prefix)}_{base}" if self.prefix else base

    def left_to_right(self) -> dict[str, str]:
        return dict(self.key_mapping)


@dataclass(frozen=True)
class Model:
    """A transform applied to source rows to produce model-output columns
    (api.thrift Model/ModelTransforms). ``transform`` is a picklable
    callable mapping a pandas DataFrame (the source's columns) to a pandas
    DataFrame of ``output_columns`` — the vectorized-inference contract
    (real deployments wrap an ONNX/torch session the same way)."""

    name: str
    output_columns: tuple[str, ...]
    transform: object  # Callable[[pd.DataFrame], pd.DataFrame]
    output_types: tuple[str, ...] = ()  # Spark type strings; default double


@dataclass(frozen=True)
class ModelTransforms:
    """Model-enriched source (api.thrift:606-617, Source union :186-196):
    the underlying sources' rows plus each model's output columns; usable
    anywhere an EventSource is (GroupBy input, chaining). Offline the
    models run inline as Arrow-batched transforms; online the same
    callables serve in the streaming path."""

    sources: tuple[EventSource, ...]
    models: tuple[Model, ...]
    passthrough_fields: tuple[str, ...] = ()
    name: str = "model_transform"
    # wrapper-level Query applied AFTER enrichment (time_column/wheres may
    # reference model output columns); the inner sources' own queries
    # apply at their scans as usual
    query: Query = field(default_factory=Query)


@dataclass(frozen=True)
class Join:
    """Left source enriched point-in-time-correctly with join parts.
    api.thrift:407-440."""

    name: str
    left: EventSource
    parts: tuple[JoinPart, ...]
    skew_keys: tuple[tuple[str, tuple[str, ...]], ...] = ()  # col -> excluded values
    derivations: tuple[Derivation, ...] = ()
    row_ids: tuple[str, ...] = ()
    bootstrap_parts: tuple[BootstrapPart, ...] = ()
    online_external_parts: tuple[ExternalPart, ...] = ()
