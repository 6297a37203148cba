"""What ``get_session`` launches the driver JVM with: the JIT policy
and the heap."""

from __future__ import annotations

import os
from types import SimpleNamespace

from groove_to_helpscout_migration_tool_spark import session

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


def test_default_driver_heap_fits_the_host(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the heap is bounded by physical
    memory; a builder stub records the confs, so no JVM starts."""
    confs = {}

    class Builder:
        def master(self, _):
            return self

        appName = master

        def config(self, key, value):
            confs[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    session.get_session()
    value = confs["spark.driver.memory"]
    heap = int(value[:-1]) * {"m": 2**20, "g": 2**30}[value[-1]]
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap <= min(host, 32 * 2**30)

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    session.get_session()
    assert confs["spark.driver.memory"] == "3g"
