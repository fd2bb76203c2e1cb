"""SparkSession factory tuned for the PIT feature-engine workload.

Scale stance (100 TB / 1000-executor design point, tested on local[N]):
 - AQE on (runtime coalesce + skew-join splitting),
 - Arrow on (every custom operator runs through ``mapInArrow``),
 - UTC session timezone for deterministic timestamp <-> epoch math,
 - shuffle partitions sized by env (driver sets cluster-appropriate value),
 - codegen cache sized to the engine's working set (below),
 - driver JIT thresholds raised (below).

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

JIT thresholds. Once the codegen cache holds, most of the driver JVM's CPU
goes to the C2 compiler: 59-70 s of a 138-171 s ``driver_suite`` benchmark
run on a 4-core host, 35-42 s of 95-116 s in ``transcript_backfill``. It
compiled about 4,300 times over 3,600 distinct methods at a steady
370-650 compiles per 5 s, about a thousand of them in
``org.apache.spark.sql``: the breadth of Spark's briefly warm planning code
(Catalyst, AQE re-planning, the Janino front end), not a deoptimization
loop. ``-XX:CompileThresholdScaling=JIT_THRESHOLD_SCALING`` (4) scales
every tier's invocation and back-edge thresholds, so that code stays in C1
or the interpreter while the executor hot loops still reach C2; the C2
threads' CPU halves and ``driver_suite`` takes about 18% less CPU. 2 saved
half as much; 8 saved a little more on ``driver_suite`` but slowed
``transcript_backfill``, whose hot code then reached C2 too late. The
price is a slower warm-up: the benchmark's set-up, which includes the cold
first passes, takes 5-8% longer. The flag goes into
``spark.driver.defaultJavaOptions``, which the launcher puts before
``spark.driver.extraJavaOptions``: a caller's own ``extraJavaOptions`` add
to it, a ``-XX:CompileThresholdScaling`` there overrides it, and ``extra``
can replace it. Like the codegen cache it only takes effect when
``get_spark`` launches the JVM.

Python workers. Every Arrow Python task (the PIT kernels, sketch tile
builds and serves) starts with pyspark's ``setup_spark_files`` calling
``importlib.invalidate_caches()``. On CPython 3.11 that re-reads the
1,328-entry central directory of ``pyspark.zip`` once for each of the
worker's 16 cached zip importers: 140-233 ms of CPU per task on a 4-core
host, more than the PIT kernels' own CPU in a whole ``transcript_backfill``
pass. ``worker_daemon`` starts the workers with zip importers that keep
their directory, which cuts the call to about 0.1 ms. It applies to local
masters only: there the daemon runs on the driver host, in the driver's
environment, where the UDF closures already import ``zipline_chronon_spark``.
A cluster opts in by installing the package on its executors and setting
``spark.python.daemon.module=zipline_chronon_spark.worker_daemon``; ``extra``
can also override the local default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 2048
JIT_THRESHOLD_SCALING = 4


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
        .config("spark.driver.defaultJavaOptions",
                f"-XX:CompileThresholdScaling={JIT_THRESHOLD_SCALING}")
    )
    if master.startswith("local"):
        b = b.config("spark.python.daemon.module", "zipline_chronon_spark.worker_daemon")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
