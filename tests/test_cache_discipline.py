"""Unpersist discipline: a library consumer that runs a dedup/ANN
operator, materializes the result, and calls unpersist_artifacts()
must leave ZERO cached blocks behind (VERDICT r4 item 2).

bench.py masks persist leaks with clearCache between queries; a real
consumer looping corpora in one long-lived session does not. The
contract under test: every designed intermediate the operators persist
goes through operators.cache.persist_artifact, and one
unpersist_artifacts() call releases all of them.
"""

from __future__ import annotations

import pytest

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
