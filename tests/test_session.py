"""The JIT policy ``get_session`` launches the driver JVM with."""

from __future__ import annotations

TIER4_FLAGS = [
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_driver_jvm_runs_with_the_tier4_policy(spark):
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    assert [f for f in TIER4_FLAGS if f not in args] == []
    # the policy rides defaultJavaOptions, which Spark prepends to a
    # caller's --driver-java-options; in extraJavaOptions it would replace them
    extra = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions") or ""
    assert not any(flag in extra for flag in TIER4_FLAGS)
