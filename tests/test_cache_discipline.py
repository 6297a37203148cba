"""Unpersist discipline: a library consumer that runs a dedup/ANN
operator, materializes the result, and calls unpersist_artifacts()
must leave ZERO cached blocks behind (VERDICT r4 item 2).

No harness clears the CacheManager between queries: bench.py, the tools
and a consumer looping corpora in one session rely on the registry. The
contract under test: every designed intermediate the operators persist
goes through operators.cache, one unpersist_artifacts() call releases
all of them, and an artifact_scope exactly those registered inside it.
"""

from __future__ import annotations

import pytest

from groove_to_helpscout_migration_tool_spark.catalog import partsupp
from groove_to_helpscout_migration_tool_spark.operators import cache, dedup

SF = "/root/testdata/sf0.001"


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _load_docs(spark):
    from groove_to_helpscout_migration_tool_spark.session import load_tables

    return load_tables(spark, SF, ["documents"]).documents


def _load_emb(spark):
    from groove_to_helpscout_migration_tool_spark.session import load_tables

    return load_tables(spark, SF, ["embeddings"]).embeddings


def _force_drain(spark) -> None:
    """Release EVERY persistent RDD, registered or not. Earlier tests in
    the session may have materialized localCheckpoints whose blocks wait
    on the async ContextCleaner (which needs a JVM GC to enqueue the
    weak reference -- periodicGC defaults to 30 min), so a plain
    clearCache + unpersist_artifacts can still see stragglers that are
    not this suite's leaks. Everything persistent at fixture time
    belongs to completed tests, so force-unpersisting is safe."""
    from groove_to_helpscout_migration_tool_spark.operators import cache

    spark.catalog.clearCache()
    cache.unpersist_artifacts(blocking=True)
    # py4j maps java.util.Map to a dict-like JavaMap
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        jrdd.unpersist(True)


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    # start and end every case empty so leaks cannot cross-contaminate
    _force_drain(spark)
    yield
    _force_drain(spark)


class TestUnpersistDiscipline:
    def _assert_released(self, spark, df):
        from groove_to_helpscout_migration_tool_spark.operators import cache

        df.count()  # the consumer's action: artifacts are now materialized
        assert _n_persistent(spark) > 0, (
            "operator persisted nothing -- the discipline test is vacuous;"
            " update it if the operator no longer caches intermediates"
        )
        cache.unpersist_artifacts(blocking=True)
        assert _n_persistent(spark) == 0

    def test_simhash_pairs_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import dedup

        self._assert_released(
            spark, dedup.simhash_neardup_pairs(_load_docs(spark))
        )

    def test_minhash_lsh_pairs_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import dedup

        self._assert_released(
            spark, dedup.minhash_lsh_pairs(_load_docs(spark))
        )

    def test_ngram_jaccard_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import dedup

        self._assert_released(
            spark, dedup.ngram_jaccard_pairs(_load_docs(spark))
        )

    def test_lsh_topk_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import similarity

        self._assert_released(
            spark, similarity.lsh_topk(_load_emb(spark), k=5, query_max_id=5)
        )

    def test_ivf_topk_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import similarity

        self._assert_released(
            spark, similarity.ivf_topk(_load_emb(spark), k=5, query_max_id=5)
        )

    def test_sq8_topk_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import similarity

        self._assert_released(
            spark, similarity.sq8_topk(_load_emb(spark), k=5, query_max_id=5)
        )

    def test_ivf_sq8_hybrid_delta_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import similarity

        self._assert_released(
            spark, similarity.ivf_sq8_hybrid_delta(_load_emb(spark), k=5)
        )

    def test_bloom_decontaminate_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.catalog import curation_ops

        self._assert_released(
            spark, curation_ops.llm_decontaminate_bloom(spark, SF)
        )

    def test_incremental_lsh_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.catalog import corpus_ops

        self._assert_released(
            spark, corpus_ops.llm_neardup_incremental_lsh(spark, SF)
        )

    def test_rag_retrieve_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.catalog import corpus_ops

        self._assert_released(
            spark, corpus_ops.llm_rag_retrieve_sparse(spark, SF)
        )

    def test_dsir_release(self, spark):
        from groove_to_helpscout_migration_tool_spark.catalog import corpus_ops

        self._assert_released(
            spark, corpus_ops.llm_importance_weights_dsir(spark, SF)
        )

    def test_clusters_release_including_checkpoints(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import cache, dedup

        pairs = dedup.simhash_neardup_pairs(_load_docs(spark))
        edges = pairs.selectExpr("doc_i AS src", "doc_j AS dst")
        comps = dedup.connected_components(edges)
        comps.count()
        cache.unpersist_artifacts(blocking=True)
        # reliable checkpoints live in the checkpoint dir, not the block
        # manager -- nothing may remain registered as persistent
        assert _n_persistent(spark) == 0

    def test_q11_checkpoint_release(self, spark):
        # q11's slim per-part frame is a tracked localCheckpoint
        # (checkpoint_artifact): its blocks must release on
        # unpersist_artifacts instead of waiting for the async
        # ContextCleaner (the r13 session-5 flake source).
        from groove_to_helpscout_migration_tool_spark.catalog import partsupp

        self._assert_released(
            spark, partsupp.q11_important_stock(spark, SF)
        )


class TestArtifactScope:
    """``artifact_scope`` releases what was registered inside it, and only
    that, however its block exits, under its own job group."""

    def test_a_raising_scope_releases_only_its_own_and_reraises(self, spark):
        with cache.artifact_scope(spark, "scope_outer") as outer:
            cache.persist_artifact(_load_emb(spark)).count()
            before = _n_persistent(spark)
            with pytest.raises(RuntimeError, match="consumer failed"):
                with cache.artifact_scope(spark, "scope_inner") as inner:
                    dedup.minhash_lsh_pairs(_load_docs(spark)).count()
                    raise RuntimeError("consumer failed")
            assert inner.artifacts > 0 and _n_persistent(spark) == before > 0
        assert (outer.artifacts, _n_persistent(spark)) == (1, 0)

    def test_jobs_carry_the_group_and_the_outer_group_returns(self, spark):
        sc = spark.sparkContext
        outside = sc.getLocalProperty("spark.jobGroup.id")
        with cache.artifact_scope(spark, "scope_jobs_outer"):
            spark.range(3).collect()
            with cache.artifact_scope(spark, "scope_jobs_inner"):
                spark.range(5).collect()
            spark.range(7).collect()
        spark.range(9).collect()
        jobs = sc.statusTracker().getJobIdsForGroup
        outer, inner = set(jobs("scope_jobs_outer")), set(jobs("scope_jobs_inner"))
        # outer jobs ran before and after the nested scope, and the last
        # job back in the group that was current outside both
        assert inner and max(outer) > max(inner) > min(outer) and not outer & inner
        assert max(jobs(outside)) > max(outer)

    def test_q11_scope_counts_its_checkpoint(self, spark):
        with cache.artifact_scope(spark, "scope_q11") as scope:
            partsupp.q11_important_stock(spark, SF).count()
            checkpointed = _n_persistent(spark)
        assert scope.artifacts == checkpointed > 0 and _n_persistent(spark) == 0
