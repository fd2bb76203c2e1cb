"""zipline_chronon_spark — a PySpark-native point-in-time feature engine.

A from-scratch rebuild of the capabilities of sardine-ai/zipline-chronon
(reference at /root/reference) on idiomatic PySpark: declarative DataFrame
plans for scans/filters/merges, and Arrow-batched ``mapInArrow`` for the
sorted-partition as-of (point-in-time) windowed aggregation that Spark
lacks natively.

Key semantics mirrored from the reference (file:line cites in docstrings):
 - sawtooth window rule: event e is in window w at query time T iff
   ``round(T - w, tailHop(w)) <= e.ts <= T`` (hop-aligned tail, inclusive
   head) — aggregator/.../windowing/{Resolution,HopsAggregator,
   SawtoothAggregator}.scala
 - operation set (21 ops) — aggregator/.../base/SimpleAggregators.scala,
   TimedAggregators.scala
 - output column naming ``{input}_{op}{k}{_window}{_by_bucket}`` —
   api/.../Extensions.scala:263-277
"""

__version__ = "0.1.0"

from zipline_chronon_spark.api import (  # noqa: F401
    Accuracy,
    Aggregation,
    AggregationPart,
    Derivation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    TimeUnit,
    Window,
)
