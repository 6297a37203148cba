"""Registry for BUILD ARTIFACTS (signature tables, shingle caches,
inverted-list indexes, tracked localCheckpoints) and the scope that
releases them.

The near-dup / ANN operators persist designed intermediates that are
referenced 2-3 times within one plan (explode sides + verify join) --
the intended steady state within a call. But the returned DataFrames
are lazy: the operator cannot unpersist before the caller's action has
run, so repeated library calls in one long-lived session would
accumulate cached blocks until memory pressure evicts them. Every such
persist goes through ``persist_artifact`` (or ``checkpoint_artifact``),
and callers run their action in an ``artifact_scope``, which releases
on exit, normal or by exception, what was registered inside it::

    with cache.artifact_scope(spark, "neardup") as scope:  # job group
        dedup.simhash_neardup_pairs(docs).count()
    scope.artifacts               # signature/chunk caches released

Storage level is Spark's DataFrame default (MEMORY_AND_DISK_DESER), so
an over-large artifact spills instead of evicting hot blocks.
"""

from __future__ import annotations

from contextlib import contextmanager
from types import SimpleNamespace

from pyspark.sql import DataFrame

_ARTIFACTS: list[DataFrame] = []


def persist_artifact(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for later bulk release."""
    df = df.persist()
    _ARTIFACTS.append(df)
    return df


def checkpoint_artifact(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` ``df`` and register its blocks for bulk release.

    Checkpoint blocks stay until the async ContextCleaner frees them after
    a JVM GC, and ``DataFrame.unpersist`` cannot release them (a plain RDD
    persist, not a CacheManager entry): the JavaRDD handles that appear
    across the call are captured by id-diff (the driver builds plans
    single-threaded) and registered. Release only after the consumer's
    action: a checkpointed frame's blocks ARE its data."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    df = df.localCheckpoint()
    after = jsc.getPersistentRDDs()
    _ARTIFACTS.extend(after[k] for k in after.keys() if k not in before)
    return df


def _release(start: int, blocking: bool = False) -> int:
    """Unpersist, last in first out, the frames and checkpoint JavaRDDs
    registered after the first ``start``; returns how many."""
    n = 0
    while len(_ARTIFACTS) > start:
        handle = _ARTIFACTS.pop()
        try:
            handle.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped; nothing to release
    return n


def unpersist_artifacts(blocking: bool = False) -> int:
    """Unpersist every registered artifact; returns how many were
    released. Safe to call at any time -- unpersisting a frame whose
    action has not run simply cancels the pending cache."""
    return _release(0, blocking)


_JOB_GROUP = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextmanager
def artifact_scope(spark, group: str):
    """Run the block under job group ``group``. On exit, release what was
    registered inside it, put their count on the yielded ``artifacts``
    and restore the outer job group."""
    sc = spark.sparkContext
    outer = [sc.getLocalProperty(k) for k in _JOB_GROUP]
    start = len(_ARTIFACTS)
    scope = SimpleNamespace(artifacts=0)
    sc.setJobGroup(group, group)
    try:
        yield scope
    finally:
        scope.artifacts = _release(start)
        for key, value in zip(_JOB_GROUP, outer):
            sc.setLocalProperty(key, value)
