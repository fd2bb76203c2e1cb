"""The driver JVM that ``session.get_spark`` launches runs with the JIT
thresholds scaled by ``JIT_THRESHOLD_SCALING``."""

from __future__ import annotations

from zipline_chronon_spark.session import JIT_THRESHOLD_SCALING


def test_driver_jit_threshold_scaling(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    value = bean.getVMOption("CompileThresholdScaling").getValue()
    assert float(value) == JIT_THRESHOLD_SCALING
