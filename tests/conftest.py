from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from groove_to_helpscout_migration_tool_spark.operators.cache import artifact_scope  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from groove_to_helpscout_migration_tool_spark import get_session

    s = get_session(app_name="pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(autouse=True)
def _artifact_scope(request):
    """Each Spark test runs in an artifact scope named after it, so what
    it persisted is released when it ends, pass or fail. RDDs it left
    persistent outside the registry (the plans' lazy localCheckpoints)
    go too: they would wait for a JVM GC, and a later test counting
    cached blocks would see them or not by GC timing."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with artifact_scope(spark, request.node.name):
        yield
    left = jsc.getPersistentRDDs()
    for key in set(left.keys()) - before:
        left[key].unpersist(True)
