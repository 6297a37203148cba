"""connected_components unit tests on synthetic graphs.

The catalog-level oracle (llm_dedup_clusters vs a recursive CTE) pins
real-corpus behavior; these pin the graph algorithm itself on shapes the
corpus doesn't produce -- above all the pathological chain, where plain
min-label propagation needs O(diameter) rounds and the path-halving
pointer jump must deliver O(log diameter).
"""

from __future__ import annotations

import pytest

from groove_to_helpscout_migration_tool_spark.operators.dedup import connected_components


def _edges_df(spark, pairs):
    """Directed both-orientation edge frame from undirected (u, v) pairs."""
    both = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return spark.createDataFrame(both, "src: long, dst: long")


def _union_find(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


class TestConnectedComponents:
    def test_chain_converges_logarithmically(self, spark):
        # a 200-node path: diameter 199. Pure neighbor propagation would
        # need ~100 rounds; path halving must finish within 10.
        pairs = [(i, i + 1) for i in range(199)]
        labels = connected_components(_edges_df(spark, pairs), max_iter=10)
        got = {r["node"]: r["label"] for r in labels.collect()}
        assert got == {n: 0 for n in range(200)}
        # convergence telemetry (r5): rounds + per-round changed counts
        # recorded for bench artifacts, monotone-decreasing tail to zero
        from groove_to_helpscout_migration_tool_spark.operators.dedup import CC_LAST

        assert 1 <= CC_LAST["rounds"] <= 10
        assert CC_LAST["changed_per_round"][-1] == 0
        assert len(CC_LAST["changed_per_round"]) == CC_LAST["rounds"]

    def test_random_graph_matches_union_find(self, spark):
        # deterministic pseudo-random graph: multiplicative-hash edges
        # over 300 nodes, mix of small components and isolated-pair ones
        pairs = sorted(
            {
                tuple(sorted(((i * 48271) % 300, (i * 16807 + 7) % 300)))
                for i in range(220)
            }
        )
        pairs = [(u, v) for u, v in pairs if u != v]
        labels = connected_components(_edges_df(spark, pairs), max_iter=20)
        got = {r["node"]: r["label"] for r in labels.collect()}
        assert got == _union_find(pairs)

    def test_nonconvergence_raises(self, spark):
        pairs = [(i, i + 1) for i in range(63)]
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(_edges_df(spark, pairs), max_iter=1)

    def test_storage_backed_checkpoint_and_stable_recompute(self, spark):
        """Lineage must be cut to DURABLE storage (checkpoint(), not
        localCheckpoint: executor death would lose in-memory blocks at
        cluster scale), and re-evaluating the returned frame -- Spark's
        recompute path -- must reproduce identical labels."""
        import os

        pairs = [(i, i + 1) for i in range(49)] + [(100 + i, 100 + i + 1) for i in range(9)]
        labels = connected_components(_edges_df(spark, pairs), max_iter=10)
        first = {r["node"]: r["label"] for r in labels.collect()}
        ckpt_dir_opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        assert not ckpt_dir_opt.isEmpty()
        ckpt_dir = ckpt_dir_opt.get().replace("file:", "")
        assert os.path.isdir(ckpt_dir) and os.listdir(ckpt_dir)
        # second evaluation replays from the durable checkpoint
        second = {r["node"]: r["label"] for r in labels.collect()}
        assert first == second == _union_find(pairs)


class TestBucketCap:
    def test_pathological_bucket_bounded(self, spark):
        from pyspark.sql import functions as F

        from groove_to_helpscout_migration_tool_spark.operators.dedup import (
            cap_bucket,
            minhash_lsh_pairs,
        )

        # one hot bucket (200 members) + a few cold ones
        rows = [(i, "hot") for i in range(200)] + [(1000 + i, f"cold{i % 3}") for i in range(9)]
        df = spark.createDataFrame(rows, "doc_id long, band_key string")
        capped = cap_bucket(df, "band_key", "doc_id", 8)
        per_bucket = {
            r["band_key"]: r["n"]
            for r in capped.groupBy("band_key").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert per_bucket["hot"] == 8
        # deterministic: lowest ids survive
        kept = sorted(
            r["doc_id"] for r in capped.filter("band_key = 'hot'").collect()
        )
        assert kept == list(range(8))
        # cold buckets untouched
        assert all(n == 3 for k, n in per_bucket.items() if k != "hot")

    def _hot_bucket_docs(self, spark):
        # 40 identical docs: one pathological bucket (every band / the
        # one anchor collapses onto it) + one cold identical pair
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, base) for i in range(40)] + [
            (100, "something completely different entirely unrelated text here"),
            (101, "something completely different entirely unrelated text here"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _assert_capped_hot_bucket(self, full, capped):
        assert capped <= full
        # the identical-doc bucket is bounded at C(8,2) self-join pairs
        # plus 40-8 anchor star edges (dedup.star_pairs keeps beyond-cap
        # members attached); full blowup is C(40,2)
        hot_full = {p for p in full if p[0] < 100}
        hot_capped = {p for p in capped if p[0] < 100}
        assert len(hot_full) == 780
        assert len(hot_capped) == 28 + 32
        # star recall: every hot doc appears in some capped pair
        assert {d for p in hot_capped for d in p} == set(range(40))
        # beyond-cap members link only to the bucket anchor (doc 0)
        assert all(p[0] == 0 for p in hot_capped if p[1] >= 8)
        # cold pair survives the cap
        assert (100, 101) in capped

    def test_minhash_capped_is_subset_and_bounded(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        docs = self._hot_bucket_docs(spark)
        full = {
            (r["doc_i"], r["doc_j"])
            for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
        }
        capped = {
            (r["doc_i"], r["doc_j"])
            for r in minhash_lsh_pairs(
                docs, jaccard_threshold=0.5, bucket_cap=8
            ).collect()
        }
        self._assert_capped_hot_bucket(full, capped)

    def test_ngram_anchor_capped_is_subset_and_bounded(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = self._hot_bucket_docs(spark)
        full = {
            (r["doc_i"], r["doc_j"])
            for r in ngram_jaccard_pairs(docs, jaccard_threshold=0.4).collect()
        }
        capped = {
            (r["doc_i"], r["doc_j"])
            for r in ngram_jaccard_pairs(
                docs, jaccard_threshold=0.4, anchor_cap=8
            ).collect()
        }
        self._assert_capped_hot_bucket(full, capped)

    def test_unpersist_artifacts_releases_cached_blocks(self, spark):
        from groove_to_helpscout_migration_tool_spark.operators import cache
        from groove_to_helpscout_migration_tool_spark.operators.dedup import (
            simhash_neardup_pairs,
        )

        cache.unpersist_artifacts()  # drain leftovers from earlier tests
        rows = [(i, f"doc number {i} with some shared words here") for i in range(20)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        simhash_neardup_pairs(docs, bucket_cap=8).count()
        # the signature + capped-chunk persists are registered and live
        assert len(cache._ARTIFACTS) >= 2
        released = cache.unpersist_artifacts(blocking=True)
        assert released >= 2
        assert cache._ARTIFACTS == []
        # nothing left in the block manager
        assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0
        # idempotent
        assert cache.unpersist_artifacts() == 0
