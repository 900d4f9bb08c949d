"""Session defaults that only take effect when ``get_spark`` launches
the JVM."""

from __future__ import annotations

from etl_spark_gradle_spark.session import _DEFAULTS


def test_jit_thresholds_reach_the_jvm(spark):
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    flags = _DEFAULTS["spark.driver.defaultJavaOptions"].split()
    assert flags and all(flag in args for flag in flags), args
