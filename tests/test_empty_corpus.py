"""Totality on the empty corpus: every documents-based curation /
corpus-maintenance operator must return an EMPTY result (not raise) on
an empty documents table -- the degenerate input every production
pipeline eventually feeds it (an empty snapshot, a filter that matched
nothing, a brand-new tenant)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from groove_to_helpscout_migration_tool_spark import catalog

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

# documents-only operators expected to be total on empty input
EMPTY_TOTAL = [
    "llm_segment_dedup",
    "llm_substring_dedup_spans",
    "llm_neardup_incremental_lsh",
    "llm_rag_retrieve_sparse",
    "llm_bpe_pair_counts",
    "llm_importance_weights_dsir",
    "llm_bigram_lm_score",
    "llm_dedup_exact",
    "llm_dedup_by_source",
    "llm_repetition_stats",
    "llm_quality_filter_c4",
    "llm_text_stats",
    "llm_lang_id",
    "llm_quality_score",
    "llm_doc_fingerprint",
    "llm_tfidf_top_terms",
    "llm_pii_redact",
    "llm_ngram_counts",
    "llm_chunk_documents",
    "llm_hashing_vectorizer",
    "llm_lang_temperature_sample",
    "llm_boilerplate_strip",
    "llm_dataset_card",
    "llm_token_budget_sample",
    # r7 model-prep family
    "llm_quality_classifier_score",
    "llm_mixture_epochs",
    "llm_bpe_train_merges",
    "llm_bpe_tokenize_apply",
    # r7 audit/assembly family
    "llm_cross_source_overlap",
    "llm_train_val_test_split",
    "llm_dedup_keep_best",
    "llm_ngram_novelty",
    "llm_neardup_keep_best",
    "llm_neardup_pagerank",
    "llm_neardup_containment",
    "llm_source_drift_report",
    "llm_heavy_hitters_cms",  # r9: empty sketch -> no candidates
]


EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)

# embeddings-based ANN/dedup operators expected to be total on empty input
EMPTY_TOTAL_EMB = [
    "llm_ann_topk_cosine",
    "llm_ann_lsh_topk",
    "llm_ann_ivf_topk",
    "llm_ann_ivf_kmeans_topk",
    "llm_ann_quantized_topk",
    "llm_neardup_embedding_lsh",
    "llm_semantic_dedup_assign",
    "llm_hard_negatives",
    "llm_knn_label_vote",
    "llm_cluster_kmeans_assign",
    "llm_cluster_balanced_sample",
    "llm_hard_negatives_ivf",
    "llm_embedding_jl_project",
    "llm_embedding_pca_power",  # r7: n == 0 guard returns empty
    "llm_embedding_outlier",
    "llm_ann_incremental_ivf",
    "llm_semantic_dedup_clusters",  # r9: empty cells -> empty ranking
]

# documents-only operators whose empty-corpus output is NON-empty by
# design: q_release_layout writes the (empty) split and returns the
# per-leaf manifest, which has zero leaves on an empty corpus -- still
# empty, but it exercises the writer, so keep it out of the shared
# fast path and assert separately.


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("sf_empty")
    pq.write_table(DOCS_SCHEMA.empty_table(), os.path.join(str(d), "documents.parquet"))
    pq.write_table(EMB_SCHEMA.empty_table(), os.path.join(str(d), "embeddings.parquet"))
    return str(d)


@pytest.mark.parametrize("name", EMPTY_TOTAL + EMPTY_TOTAL_EMB)
def test_empty_corpus_returns_empty(spark, empty_sf_dir, name, request):
    df = catalog.QUERIES[name].fn(spark, empty_sf_dir)
    rows = df.collect()
    assert rows == []


def test_release_layout_empty_corpus(spark, empty_sf_dir):
    """The release writer must be total on an empty corpus: zero leaves
    in the written layout, an empty manifest, no raise."""
    df = catalog.QUERIES["q_release_layout"].fn(spark, empty_sf_dir)
    assert df.collect() == []
