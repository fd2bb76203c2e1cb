"""SparkSession factory tuned for the PIT feature-engine workload.

Scale stance (100 TB / 1000-executor design point, tested on local[N]):
 - AQE on (runtime coalesce + skew-join splitting),
 - Arrow on (all custom operators are Arrow-batched pandas UDFs),
 - UTC session timezone for deterministic timestamp <-> epoch math,
 - shuffle partitions sized by env (driver sets cluster-appropriate value),
 - codegen cache sized to the engine's working set (below).

Codegen cache. Whole-stage codegen turns each plan into Java source that
Janino compiles and the JVM then JIT-compiles; Spark caches the compiled
class per source in an LRU of ``spark.sql.codegen.cache.maxEntries``
entries, default 100. One long-lived driver runs far more distinct
sources than that: the eight ``driver_suite`` benchmark queries generate
about 195, the 33 ``__spark_entry__`` driver queries about 432 at sf0.01.
With 100 entries the LRU misses on every one of them on every pass, and
recompiling (Janino plus the JIT threads) becomes the JVM's largest CPU
user. ``CODEGEN_CACHE_ENTRIES`` (2048, about 4.7x the 432) keeps each
class compiled once per session; ``extra`` can still override it. Class
names leave out the whole-stage codegen stage id
(``spark.sql.codegen.useIdInClassName``), so the same stage code at a
different position in a plan, or after AQE renumbers a re-planned query,
hits the cache too (the eight queries' 195 sources become about 180).

The cache size is a static conf: Spark reads it once per JVM, from the
session that generates the first class. ``getOrCreate()`` on an
already-running SparkContext cannot apply it, so the first session in a
process must come from ``get_spark``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    master: str | None = None,
    app_name: str = "zipline-chronon-spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # match parallelism of the master when local, else leave to cluster conf
        if master.startswith("local["):
            n = master[len("local[") : -1]
            shuffle_partitions = 32 if n == "*" else max(8, int(n))
        else:
            shuffle_partitions = 200
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
