"""Each generated class is compiled once per session: the codegen cache
(``spark.sql.codegen.cache.maxEntries``, set by ``session.get_spark``) holds
the whole working set of the ``driver_suite`` benchmark queries, so running
them again recompiles nothing. With Spark's default of 100 entries the LRU
misses on all of their 180-odd sources on every round."""

from __future__ import annotations

import __spark_entry__ as entry
from perfbench.harness import materialize
from perfbench.workloads import DriverSuite
from tests.test_entry_oracles import SF_DIR


def _codegen_cache_size(spark) -> int:
    """Entries in Spark's (private) codegen cache, read by reflection."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(cls.getDeclaredField("MODULE$").get(None)).size()


def test_driver_suite_compiles_each_class_once(spark):
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = entry.queries()

    def one_round():
        for q in DriverSuite.QUERIES:
            materialize(queries[q](spark, SF_DIR))

    one_round()
    count, size = compiled.getCount(), _codegen_cache_size(spark)
    one_round()
    # AQE may re-plan a stage differently from one round to the next (e.g.
    # prune a branch whose input stage came back empty); that is a new
    # source and a new cache entry. A compile that adds no entry replaced
    # an evicted class: a recompile.
    recompiled = (compiled.getCount() - count) - (_codegen_cache_size(spark) - size)
    assert recompiled == 0, f"the second round recompiled {recompiled} generated classes"
