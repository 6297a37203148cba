"""Explain audit: dump executed plans for representative catalog queries
and check physical-plan invariants (the ".explain and iterate" loop,
mechanized). Writes PLANS.md.

Checks per query:
  - dims joined via BroadcastHashJoin (no sort-merge join against a
    broadcast-able side)
  - parquet scans show pushed filters when the query filters a scanned
    column (PushedFilters: [...])
  - no CartesianProduct / BroadcastNestedLoopJoin unless the query
    intentionally cross-joins (ivf centroid assignment, scalar subquery)
  - global top-N plans TakeOrderedAndProject, not a full sort

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from groove_to_helpscout_migration_tool_spark import catalog, get_session
from groove_to_helpscout_migration_tool_spark.operators import cache

AUDIT = {
    # name -> (require, forbid) regex lists on the executed plan
    "q01_pricing_summary": (["PushedFilters: \\[.*IsNotNull|LessThanOrEqual", "HashAggregate"], ["SortMergeJoin"]),
    "q03_shipping_priority": (["BroadcastHashJoin", "TakeOrderedAndProject"], ["CartesianProduct"]),
    "q05_region_revenue": (["BroadcastHashJoin", "PushedFilters: \\[.*EqualTo\\(r_name,ASIA\\)"], ["CartesianProduct"]),
    "q07_nation_volume": (["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "q18_large_orders": (["HashAggregate"], ["CartesianProduct"]),
    "ref_sort_limit_topn": (["TakeOrderedAndProject"], ["Sort \\["]),
    "ref_s4_point_lookup": (["PushedFilters: \\[.*In\\(o_orderkey"], ["SortMergeJoin"]),
    "ref_j1_mailbox_lookup_default": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    "ref_j5_dedup_antijoin": (["LeftAnti", "BroadcastHashJoin"], ["CartesianProduct"]),
    "ref_j6_validation_antijoin": (["LeftAnti"], ["CartesianProduct"]),
    "llm_dedup_exact": (["HashAggregate"], ["SortMergeJoin", "Exchange.*rangepartitioning"]),
    "ref_skew_salted_join": (["BroadcastHashJoin|SortMergeJoin"], ["CartesianProduct"]),
    # partsupp shapes: the one-row supplier-count / total cross joins are
    # intentional (broadcast nested loop over 1 row), so only sort-merge
    # against broadcast-able sides is forbidden
    "q02_min_cost_supplier": (["BroadcastHashJoin", "TakeOrderedAndProject"], ["SortMergeJoin", "CartesianProduct"]),
    # q11 (r13): the per-part value frame is eagerly materialized
    # (localCheckpoint) so the partsupp cascade builds ONCE -- AQE does
    # not stage-reuse the twice-referenced subtree the old scalar-total
    # form created. The audited plan therefore starts at the
    # materialized RDD; the cascade's join strategy is covered by q02's
    # rule (same build_partsupp machinery).
    "q11_important_stock": (["BroadcastNestedLoopJoin", "HashAggregate", "Scan ExistingRDD"], ["SortMergeJoin", "CartesianProduct", "Scan parquet"]),
    "q16_parts_supplier_cnt": (["BroadcastHashJoin", "LeftAnti"], ["SortMergeJoin", "CartesianProduct"]),
    "q20_surplus_suppliers": (["BroadcastHashJoin", "HashAggregate"], ["CartesianProduct"]),
    "llm_simhash_dedup_assign": (["HashAggregate"], ["CartesianProduct"]),
    # training-data assembly: the shuffle/pack windows must partition by
    # shard (hashpartitioning), NEVER range-partition a global sort --
    # a single global ORDER BY is the non-scalable formulation
    "llm_train_shuffle": (["Exchange hashpartitioning", "Window"], ["Exchange rangepartitioning", "CartesianProduct"]),
    "llm_pack_sequences": (["Exchange hashpartitioning", "RunningWindowFunction|Window"], ["Exchange rangepartitioning", "CartesianProduct"]),
    # stratified sampling is a pure per-row filter: the scan must prune
    # to (doc_id, lang) and plan no exchange at all
    "llm_sample_stratified": (["ReadSchema: struct<doc_id:bigint,lang:string>"], ["Exchange", "CartesianProduct"]),
    # layout keys and chunking are per-row projections: no exchange; the
    # zorder scan must prune to the two key columns
    "q_zorder_layout": (["ReadSchema: struct<event_id:bigint,ts:(bigint|timestamp)[^,>]*,user_id:bigint>"], ["Exchange", "CartesianProduct"]),
    "llm_chunk_documents": (["Generate posexplode"], ["Exchange", "CartesianProduct"]),
    # decontamination: the (tiny) eval-gram side must broadcast
    "llm_decontaminate": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # sketch-only approx entries (r5): the benched plan must contain the
    # sketch aggregate and NO exact twin -- no percentile() full-group
    # sort, no count(DISTINCT) expand/second shuffle. min/max/count are
    # mergeable and allowed.
    "p02_percentiles_approx": (["approx_percentile"], ["(?<!approx_)percentile\\(", "Exchange rangepartitioning", "Sort \\["]),
    "q_distinct_users_approx": (["approx_count_distinct"], ["Expand", "count\\(distinct"]),
    # IVF (r5): cell assignment is codebook-closure + per-row rank; the
    # old N x C crossJoin/BroadcastNestedLoop and the per-vec_id window
    # exchange must never reappear. Every ANN top-k re-ranks through the
    # salted two-phase aggregate (similarity._rerank), so the plan has
    # no Window at all -- neither a per-query top-k nor a corpus-wide
    # assignment rank
    "llm_ann_ivf_topk": (["ArrowEvalPython|EvalPython"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    "llm_ann_ivf_kmeans_topk": (["ArrowEvalPython|EvalPython"], ["Window", "CartesianProduct"]),
    # LSH ANN: Arrow-batched hyperplane dots and pair scoring, bucket
    # equi-join candidates, the same window-free re-rank
    "llm_ann_lsh_topk": (["ArrowEvalPython|EvalPython"], ["Window", "CartesianProduct"]),
    # brute-force ANN baseline (re-planned r9): corpus streams once
    # through the Arrow query-matrix stage; top-k is the salted
    # two-phase aggregate -- never a corpus-sized window partition per
    # query, and no per-pair join of any kind remains
    "llm_ann_topk_cosine": (["ArrowEvalPython|EvalPython", "HashAggregate"], ["Window", "CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"]),
    # curation ops (r6): the C4 gate is a map-only pass fused into the
    # scan -- ANY exchange would mean an accidental shuffle
    "llm_quality_filter_c4": (["ReadSchema: struct<doc_id:bigint,text:string,lang:string"], ["Exchange", "CartesianProduct"]),
    # source-level dedup: argmax via partial-aggregating groupBy -- a
    # Window would be the per-group sort formulation the oracle uses
    "llm_dedup_by_source": (["HashAggregate"], ["Window", "SortMergeJoin"]),
    # bloom decontamination: the bitmap (1 row) and the verify gram set
    # must both broadcast; the training side must never sort-merge
    "llm_decontaminate_bloom": (["BroadcastHashJoin", "BroadcastNestedLoopJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # SQ8 ANN: int8 dot runs Arrow-batched; the corpus-side scan must
    # never cartesian (the query side is a broadcast). Since r13 the
    # pool cut AND the final rank route through the salted two-phase
    # top-k, so the whole plan must be WINDOW-FREE: the r12 weak grade
    # was a row_number().over(partitionBy(qid)) that hash-exchanged the
    # N x Q scored frame into exactly Q partitions -- the corpus-wide
    # per-query sort two_phase_topk exists to kill
    "llm_ann_quantized_topk": (["ArrowEvalPython|EvalPython", "BroadcastNestedLoopJoin", "HashAggregate"], ["CartesianProduct", "Window"]),
    # r13 floor-carrying hybrid: IVF probe candidates UNION the int8
    # pool -- both legs broadcast their query side and rank through the
    # salted two-phase aggregates, so like the sq8 plan it must be
    # entirely Window-free and cartesian-free
    "llm_ann_ivf_hybrid_topk": (["ArrowEvalPython|EvalPython", "BroadcastNestedLoopJoin", "HashAggregate", "Union"], ["CartesianProduct", "Window"]),
    # incremental twin: same two-leg union contract (probe leg joins
    # the standing cell assignment, net leg broadcasts the capped
    # delta panel over the int8 base) -- Window- and cartesian-free
    "llm_ann_incremental_hybrid": (["ArrowEvalPython|EvalPython", "BroadcastNestedLoopJoin", "HashAggregate", "Union"], ["CartesianProduct", "Window"]),
    # temperature mixing: the O(languages) rate table joins back onto
    # the corpus as a broadcast; the corpus itself must never shuffle
    # (the tiny tot crossJoin is a 5x1 BroadcastNestedLoop -- allowed)
    "llm_lang_temperature_sample": (["BroadcastHashJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # tf-idf: ONE tokenize scan into the persisted (doc, term) counts;
    # doc length is a doc_id window on that frame (bounded by per-doc
    # distinct terms) and the vocabulary joins back on term -- the
    # scalar total-docs crossJoin is a 1-row BroadcastNestedLoop
    "llm_tfidf_top_terms": (["HashAggregate", "Window"], ["CartesianProduct"]),
    # hashing vectorizer: single-branch plan -- the L2 norm is a
    # doc_id-partitioned window over the combined nz frame (<= HASH_DIMS
    # rows per partition, bounded by construction), no norm join and no
    # reliance on exchange reuse to collapse a duplicate tokenize branch
    "llm_hashing_vectorizer": (["HashAggregate", "Window"], ["CartesianProduct", "SortMergeJoin"]),
    # relational families (r6 continuation widening): windows must hash-
    # partition on their keys, never range-partition a global sort; the
    # as-of join and sessionization are per-user windows; grouping sets
    # plan through Expand (the mechanism); pivot is conditional aggs
    # over a broadcast dim join
    "w02_running_customer_spend": (["Exchange hashpartitioning", "RunningWindowFunction|Window"], ["Exchange rangepartitioning", "CartesianProduct"]),
    "a01_asof_join_purchase_signup": (["Exchange hashpartitioning"], ["Exchange rangepartitioning", "CartesianProduct"]),
    "a02_sessionize_events": (["Exchange hashpartitioning", "RunningWindowFunction|Window"], ["Exchange rangepartitioning", "CartesianProduct"]),
    "a04_funnel_conversion": (["HashAggregate"], ["CartesianProduct", "Exchange rangepartitioning"]),
    "g03_pivot_status_by_segment": (["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin", "CartesianProduct"]),
    "g04_grouping_sets": (["Expand", "HashAggregate"], ["Exchange rangepartitioning", "CartesianProduct"]),
    "t02_multires_rollup": (["HashAggregate"], ["Window", "CartesianProduct"]),
    "j01_json_extract_events": (["HashAggregate"], ["Window", "CartesianProduct"]),
    # corpus ops (r6 continuation): segment dedup is explode + map-side-
    # combining count + hash join-back + sort_array group-back -- the
    # per-doc reassembly must NOT be a window sort
    "llm_segment_dedup": (["Generate explode", "HashAggregate"], ["Window", "CartesianProduct"]),
    # keep-first variant: the bit-packed argmin must stay in hash
    # aggregation, never a per-hash window sort
    "llm_segment_dedup_keep_first": (["Generate explode", "HashAggregate"], ["Window", "CartesianProduct", "SortAggregate"]),
    # incremental probe: delta bands x base bands equi-join, Arrow
    # minhash stage; no self-join blowup shapes allowed
    "llm_neardup_incremental_lsh": (["ArrowEvalPython|EvalPython", "HashAggregate"], ["Window", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # sparse retrieval: the query vectors broadcast into the inverted-
    # index join and top-k is the salted two-phase aggregate -- a Window
    # would be the corpus-wide PARTITION BY query straggler. Norms
    # attach to nz itself (nz-scale doc_id join) and ride through the
    # dim join; the candidate frame must never sort-merge against a
    # norm table
    "llm_rag_retrieve_sparse": (["BroadcastHashJoin", "HashAggregate"], ["Window", "CartesianProduct", "SortMergeJoin"]),
    # exact-substring spans: gram count + join-back + bounded expansion;
    # per-doc coverage must come from aggregation, never a window
    "llm_substring_dedup_spans": (["HashAggregate"], ["Window", "CartesianProduct"]),
    # bigram LM scoring: LM table joins back via broadcast; the per-doc
    # ordered fold is a grouped aggregate, never a window
    "llm_bigram_lm_score": (["BroadcastHashJoin", "HashAggregate"], ["Window", "CartesianProduct"]),
    # BPE merge round: vocab aggregation + top-pairs via
    # TakeOrderedAndProject, never a global sort
    "llm_bpe_pair_counts": (["TakeOrderedAndProject", "HashAggregate"], ["Sort \\[", "CartesianProduct"]),
    # DSIR: the NFEAT-bounded weight table must broadcast back over the
    # corpus; scoring is partial-agg, never a PARTITIONED window (the
    # r13 totals ride a global window over the NFEAT-bounded model --
    # windowspecdefinition with a column ref (#) is the forbidden
    # corpus-keyed form, the empty spec over a bounded frame is not)
    "llm_importance_weights_dsir": (["BroadcastHashJoin"], ["windowspecdefinition\\([^)]*#", "CartesianProduct", "SortMergeJoin"]),
    # mining ops (r6 session 3, re-planned r9): the brute dense scans
    # stream the corpus once through ONE Arrow stage against the
    # collected query matrix (scores_vs_query_matrix) -- no per-pair
    # join of ANY kind remains; top-k is the salted two-phase
    # aggregate, never a corpus-wide window
    "llm_hard_negatives": (["ArrowEvalPython|EvalPython", "HashAggregate"], ["Window", "CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"]),
    # kNN vote: same scan shape; the vote argmax is a bit-packed integer
    # max that must stay in hash aggregation, never SortAggregate
    "llm_knn_label_vote": (["ArrowEvalPython|EvalPython", "HashAggregate"], ["Window", "CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"]),
    # boilerplate strip: explode + two map-side-combining hash aggs for
    # the distinct-doc count + join-back + sort_array group-back
    "llm_boilerplate_strip": (["Generate explode", "HashAggregate"], ["Window", "CartesianProduct"]),
    # dataset card: pure map-combine tree aggregation joined by
    # broadcast on the tiny source key; no shuffle-heavy shapes at all
    "llm_dataset_card": (["HashAggregate", "BroadcastHashJoin"], ["Window", "CartesianProduct", "Exchange rangepartitioning", "SortMergeJoin"]),
    # r9 count-min sketch, candidate-bounded exact leg since r10: token
    # -> (row, bucket) explode with map-side partial agg (the bounded-
    # state sketch); each token instance then looks its D cells up via
    # chained <=CMS_W-row BROADCAST joins and a row-local least() screen
    # BEFORE the term-keyed exact count, so the term HashAggregate must
    # sit ABOVE the least() Filter in the plan (candidate-bounded state,
    # never vocabulary-sized -- VERDICT r9 task 4). The scalar-total
    # crossJoin is a BroadcastNestedLoop (allowed), but a true
    # CartesianProduct, window, or range sort must never appear
    "llm_heavy_hitters_cms": (["Generate explode", "HashAggregate", "BroadcastHashJoin", "HashAggregate\\(?[^\\n]*keys=\\[term[\\s\\S]*BroadcastNestedLoopJoin [^\\n]*est#\\d+L >= [\\s\\S]*least\\("], ["Window", "CartesianProduct", "Exchange rangepartitioning", "SortMergeJoin"]),
    # token-budget sampler: per-(source, shard) running sums hash-
    # partition; the oracle's one-window-per-source shape (a range
    # partition straggler at scale) must NOT appear in the Spark plan
    "llm_token_budget_sample": (["Exchange hashpartitioning", "RunningWindowFunction|Window"], ["Exchange rangepartitioning", "CartesianProduct"]),
    # clustering view: Arrow dots stage + per-row argmax + hash aggs;
    # the N x C crossJoin and per-vector window shapes stay forbidden
    # exactly as in the IVF plans it shares machinery with
    "llm_cluster_kmeans_assign": (["ArrowEvalPython|EvalPython", "HashAggregate"], ["CartesianProduct", "Window", "SortMergeJoin"]),
    # r9 SemDeDup: same cell machinery, then ONE hash-partitioned
    # within-cell ranking window and the anchor-bounded candidate join
    # (N x SEM_ANCHORS); Arrow pair dots for the verify; a cartesian or
    # range-partitioned sort must never appear. SortMergeJoin is
    # allowed: the candidate-to-embedding rejoins are large-to-large at
    # corpus scale (unlike the broadcast-able dims elsewhere)
    "llm_semantic_dedup_clusters": (["ArrowEvalPython|EvalPython", "Exchange hashpartitioning", "Window"], ["CartesianProduct", "Exchange rangepartitioning"]),
    # cluster-balanced sampler: rates table broadcast back over the
    # assignment; totals ride a global window over the cells-bounded
    # stats frame (r13) -- only a column-keyed windowspecdefinition
    # (the corpus-keyed form) is forbidden
    "llm_cluster_balanced_sample": (["BroadcastHashJoin", "HashAggregate"], ["CartesianProduct", "windowspecdefinition\\([^)]*#", "SortMergeJoin"]),
    # IVF-indexed negative miner: cell-bucketed candidate join + Arrow
    # re-rank; the brute scan's BroadcastNestedLoop must NOT appear --
    # the whole point of the index path
    "llm_hard_negatives_ivf": (["ArrowEvalPython|EvalPython", "HashAggregate"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    # JL projection: a pure column transform -- the scan must prune to
    # (vec_id, embedding) and the plan must have NO exchange at all
    "llm_embedding_jl_project": (["ReadSchema: struct<vec_id:bigint,embedding"], ["Exchange", "CartesianProduct"]),
    # r7 interval join with aggregate pushdown + window canonicalization:
    # events collapse to (user, day) partials, the 24 distinct windows
    # roll up once, and the orders fact table is NEVER shuffled -- no
    # exchange may hash-partition on o_orderkey, and the only aggregates
    # are the event-side partial_sums
    "a03_range_join_order_events": (["BroadcastHashJoin", "partial_sum"], ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin", "hashpartitioning\\(o_orderkey"]),
    # r7 classifier inference: the entire model runs inside one
    # projection -- no Exchange, no UDF, scan pruned to (doc_id, text)
    "llm_quality_classifier_score": (["ReadSchema: struct<doc_id:bigint,text:string"], ["Exchange", "CartesianProduct", "EvalPython"]),
    # r7 epoch plan: sources-sized rate table broadcast back over the
    # scan + bounded explode; totals ride a global window over the
    # sources-bounded aggregate (r13) -- only a column-keyed
    # windowspecdefinition (the corpus-keyed form) is forbidden
    "llm_mixture_epochs": (["BroadcastHashJoin", "Generate explode"], ["SortMergeJoin", "CartesianProduct", "windowspecdefinition\\([^)]*#"]),
    # r7 group-back: aggregate below the orders join -- the orders side
    # participates only as a LeftSemi filter (broadcast at bench scale),
    # and the thread lists aggregate via ObjectHashAggregate, never a
    # per-group window or sort-based aggregate
    "ref_groupback_threads": (["LeftSemi", "ObjectHashAggregate"], ["SortMergeJoin", "CartesianProduct", "Window"]),
    # r7 audit family: the overlap matrix collapses to per-gram source-
    # sets in ONE hash aggregation and expands pairs as an array
    # expression -- a self-join of the exploded shingles (SortMergeJoin
    # on g) or any cartesian shape would square on hot grams; totals
    # join back via broadcast
    "llm_cross_source_overlap": (["HashAggregate", "BroadcastHashJoin", "Generate explode"], ["SortMergeJoin", "CartesianProduct", "Window"]),
    # r7 split: map-only -- zero Exchange, scan pruned to the two
    # carried columns (the key derives from doc_id alone)
    "llm_train_val_test_split": (["ReadSchema: struct<doc_id:bigint,source:string>"], ["Exchange", "CartesianProduct", "EvalPython"]),
    # r7 keep-best dedup: score fused into the scan projection, argmax
    # as max(struct) in hash aggregation -- never a per-group window or
    # sort-based aggregate
    "llm_dedup_keep_best": (["HashAggregate"], ["Window", "CartesianProduct", "SortAggregate", "SortMergeJoin", "EvalPython"]),
    # r7 novelty: first-owner min is a hash agg; the join-back is
    # gram-keyed against a UNIQUE side (no fanout); per-doc rollup is a
    # hash agg -- never a window over the exploded grams
    "llm_ngram_novelty": (["HashAggregate", "Generate explode"], ["Window", "CartesianProduct", "BroadcastNestedLoopJoin"]),
    # r7 retention cohorts: first-touch agg + user-keyed join back +
    # map-side distinct collapse + broadcast cohort sizes -- no window,
    # no range partition (the oracle's formulation is identical)
    "a05_retention_cohorts": (["HashAggregate", "BroadcastHashJoin"], ["Window", "CartesianProduct", "Exchange rangepartitioning"]),
    # r7 near-dup keep-best: per-cluster bit-packed argmax in hash
    # aggregation over the label-propagation output -- never a window
    # or sort-based aggregate; the scoring is a scan-side projection
    "llm_neardup_keep_best": (["HashAggregate"], ["Window", "CartesianProduct", "SortAggregate"]),
    # r7 SCD2 merge: change detection is a broadcast semi/anti pair --
    # the dimension itself must never shuffle or sort-merge
    "d01_scd2_customer_merge": (["LeftSemi", "LeftAnti", "BroadcastHashJoin", "Union"], ["SortMergeJoin", "CartesianProduct", "Window"]),
    # r7 profiler: per-column pruned legs, each the two-hash-agg exact
    # distinct -- the Expand-based multi-count(DISTINCT) single pass is
    # the forbidden formulation
    "p03_profile_lineitem": (["HashAggregate", "Union"], ["Expand", "Window", "CartesianProduct"]),
    # r7 PageRank: per-round edge join + hash-agg inflow -- no
    # cartesian, no sort-based aggregate, no range-partitioned sort
    # anywhere in the loop. (The one surviving Window since r9 is
    # cap_bucket's per-band-bucket row_number on the payload-free
    # (band_key, doc_id) frame -- it partitions on the key the
    # candidate join shuffles on anyway; it surfaced in this plan when
    # the exploded band frame moved its persist ABOVE the cap so the
    # anchor star could read the uncapped frame.)
    "llm_neardup_pagerank": (["HashAggregate"], ["CartesianProduct", "SortAggregate", "Exchange rangepartitioning"]),
    # r7 outlier gate: 1-row stats frames broadcast back over the scan
    # (the allowed one-row BroadcastNestedLoop) -- the vectors must
    # never shuffle, window, or real-cartesian
    "llm_embedding_outlier": (["BroadcastNestedLoopJoin", "HashAggregate"], ["Window", "CartesianProduct", "SortMergeJoin"]),
    # r7 incremental IVF: delta ranks cells map-side against the
    # in-closure codebook -- the N x C crossJoin and any window must
    # never appear (same contract as llm_ann_ivf_topk: the per-delta-
    # query top-k is the window-free re-rank)
    "llm_ann_incremental_ivf": (["ArrowEvalPython|EvalPython"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # r7 full-outer reconciliation: both sides aggregate BEFORE the
    # join (agg-then-join); FullOuter on the day partials, no window
    "s04_full_outer_ship_reconciliation": (["FullOuter", "HashAggregate"], ["Window", "CartesianProduct", "Exchange rangepartitioning"]),
    # r7 containment: anchor equi-join + in-row array_intersect verify
    # (same bucketed shape as ngram_jaccard) -- never cartesian. The
    # allowed Window is cap_bucket's per-anchor row_number on the
    # payload-free (anchor, doc_id) frame (r9: candidates now build
    # payload-free with the star link, so the cap window sits in the
    # main plan instead of behind a semi-join)
    "llm_neardup_containment": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Exchange rangepartitioning"]),
    # r7 hopping window: the factor-4 Expand IS the mechanism (bounded
    # by duration/slide, not by data) feeding one hash aggregation
    "t03_hopping_window_events": (["Expand", "HashAggregate"], ["Window", "CartesianProduct", "Exchange rangepartitioning"]),
    # r7 drift report: conditional hash aggs + gram-keyed presence
    # collapse + source rollup -- no window, no cartesian anywhere
    "llm_source_drift_report": (["HashAggregate", "Generate explode"], ["Window", "CartesianProduct", "SortMergeJoin"]),
}

# Scale-regime join-strategy pins (VERDICT r10 task 4): the two decade-3
# probes whose wall ratio sits above the data ratio are classed as
# one-time PHASE STEPS -- a frame crossing the broadcast threshold
# between sf1 and sf10 (hard_negatives_ivf: the exact-cosine rejoin's
# 200k-vector frame goes sort-merge; measured at r11 HEAD: 6 BHJ / 0
# SMJ at sf1 -> 5 / 1 at sf10, one fewer crossing than the r10 note's
# 4+2 because the rejoin frames were since consolidated) or bucket
# densification (lsh_topk: 3+0 -> 2+1). These assertions pin the
# classing so a genuine quadratic regression cannot hide behind it: at
# each regime the join population must split EXACTLY
# broadcast/sort-merge as expected, the total join count must not grow
# with scale (a new join appearing at sf10 only would be a re-plan, not
# a phase step), and no cartesian/nested-loop shape may appear at
# either scale. Counts are on the AQE FINAL plan only.
#   name -> {sf_dir: {"smj": n, "total": n (BHJ+SMJ)}}
SCALE_REGIME_AUDIT = {
    "llm_hard_negatives_ivf": {
        os.path.join(ROOT, "testdata_sf1"): {"smj": 0, "total": 6},
        os.path.join(ROOT, "testdata_sf10"): {"smj": 1, "total": 6},
    },
    "llm_ann_lsh_topk": {
        os.path.join(ROOT, "testdata_sf1"): {"smj": 0, "total": 3},
        os.path.join(ROOT, "testdata_sf10"): {"smj": 1, "total": 3},
    },
}


def audit_plan(
    label: str,
    plan: str,
    require: list[str],
    forbid: list[str],
    checks: str | None = None,
) -> tuple[bool, str]:
    """Check one executed plan against required / forbidden regexes.

    Returns ``(ok, row)``: ``row`` is the PLANS.md table row for
    ``label``, naming every missing or forbidden pattern on failure.
    ``checks`` replaces the default "n required, m forbidden" summary.
    """
    missing = [p for p in require if not re.search(p, plan)]
    present = [p for p in forbid if re.search(p, plan)]
    detail = (["missing: " + "; ".join(missing)] if missing else []) + (
        ["forbidden present: " + "; ".join(present)] if present else []
    )
    checks = checks or f"{len(require)} required, {len(forbid)} forbidden"
    result = "FAIL — " + " / ".join(detail) if detail else "PASS"
    return not detail, f"| `{label}` | {checks} | {result} |"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session(app_name="explain-audit", shuffle_partitions=8)
    lines = [
        "# PLANS — physical-plan audit of representative queries",
        "",
        f"Generated by `tools/explain_audit.py` at `{sf_dir}`. Each query's",
        "executed plan is checked against required / forbidden operator",
        "patterns; the full plan for the flagship queries follows.",
        "",
        "| query | checks | result |",
        "|---|---|---|",
    ]
    failures = []
    plans: dict[str, str] = {}

    # Ticket pipeline: broadcast hints must cover DIMS ONLY (the
    # len(expected_hints) dim/key frames listed below). Fact-sized
    # frames (ticket_cust, att_by_msg) must carry NO hint -- their joins
    # co-partition with the group-back and AQE may still auto-broadcast
    # when genuinely small, but an explicit hint would force a driver
    # collect at any scale (VERDICT r1 item 3).
    from groove_to_helpscout_migration_tool_spark.plans import build_conversations
    from groove_to_helpscout_migration_tool_spark.sources.fixtures import (
        groove_fixtures,
        helpscout_fixtures,
    )

    convs, _errors = build_conversations(
        groove_fixtures(spark), helpscout_fixtures(spark), bypass_validation=True
    )
    jplan = convs._jdf.queryExecution().analyzed()
    hinted_outputs: set[str] = set()

    def _walk(node) -> None:
        if node.nodeName() == "ResolvedHint":
            hinted_outputs.add(node.output().mkString(","))
        for i in range(node.children().size()):
            _walk(node.children().apply(i))

    _walk(jplan)
    # expression ids (#123) differ per union branch; normalize to NAMES
    hinted_outputs = {re.sub(r"#\d+", "", out) for out in hinted_outputs}
    expected_hints = {
        "a_id,a_email",            # agent directory (S8 dim)
        "e_modified,e_subject",    # J5 dedup keys (existing conversations)
        "gr_email,gr_name",        # groove customer directory (J4)
        "hc_email,hc_id",          # HS customers for PersonRef (P9)
        "hs_email,hs_customer_id", # HS customer directory (J4)
        "mb_name,mb_id",           # mailboxes (J1)
        "u_email,u_id",            # HS users (J3)
    }
    fact_markers = ("t_number", "a_ticket", "a_message")
    fact_hinted = sorted(
        out for out in hinted_outputs if any(m in out for m in fact_markers)
    )
    ok = not fact_hinted and hinted_outputs == expected_hints
    lines.append(
        "| `ticket_pipeline (build_conversations)` | broadcast hints cover"
        f" exactly the {len(expected_hints)} dim/key frames, none on fact frames"
        " (t_number/a_ticket/a_message) | "
        + (
            "PASS"
            if ok
            else f"FAIL — hinted: {sorted(hinted_outputs)}, fact-hinted: {fact_hinted}"
        )
        + " |"
    )
    if not ok:
        failures.append("ticket_pipeline_hints")

    # Release writer (q_release_layout's sink): the frame write_release
    # hands to partitionBy MUST pre-repartition on the partition columns
    # (Exchange hashpartitioning(split, shard)) -- never round-robin or
    # range -- so each leaf is written by the task(s) that own it. The
    # q_release_layout oracle pins n_files = 1 per leaf after the fact;
    # this catches the naive write.partitionBy regression at plan time.
    # (The returned manifest DataFrame is a bounded local relation, so
    # the generic AUDIT loop can't see the write-side plan.)
    from groove_to_helpscout_migration_tool_spark.catalog.audit_ops import (
        llm_train_val_test_split,
    )
    from groove_to_helpscout_migration_tool_spark.sources.compact import (
        release_frame,
    )

    split_df = llm_train_val_test_split(spark, sf_dir)
    rel_plan = (
        release_frame(split_df, ["split", "shard"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    ok, row = audit_plan(
        "q_release_layout (write_release pre-repartition)",
        rel_plan,
        [r"Exchange hashpartitioning\(split[^,]*, shard"],
        [r"Exchange rangepartitioning", r"RoundRobinPartitioning"],
        checks="Exchange hashpartitioning(split, shard) before partitionBy;"
        " no round-robin/range",
    )
    lines.append(row)
    if not ok:
        failures.append("q_release_layout_write_plan")

    # q11 cascade-level audit (VERDICT r13 task 7): the query's own
    # executed plan starts at the checkpoint's Scan ExistingRDD, so the
    # generic AUDIT row above can never see the partsupp cascade below
    # it. Audit the pre-checkpoint value frame directly: the 4-way
    # explode + supplier/nation joins must stay broadcast (never
    # sort-merge, never a true cartesian), aggregating per ps_partkey.
    from groove_to_helpscout_migration_tool_spark.catalog.partsupp import (
        _q11_value_frame,
    )

    vf = _q11_value_frame(spark, sf_dir)
    vf.collect()
    vplan = vf._jdf.queryExecution().executedPlan().toString()
    ok, row = audit_plan(
        "q11_important_stock (pre-checkpoint cascade)",
        vplan,
        ["BroadcastHashJoin", "HashAggregate", "Scan parquet"],
        ["SortMergeJoin", "CartesianProduct"],
    )
    lines.append(row)
    if not ok:
        failures.append("q11_cascade")

    for name, (require, forbid) in AUDIT.items():
        df = catalog.QUERIES[name].fn(spark, sf_dir)
        df.collect()  # run so AQE finalizes the plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        plans[name] = plan
        ok, row = audit_plan(name, plan, require, forbid)
        lines.append(row)
        if not ok:
            failures.append(name)

    # The scale-regime rows execute the two audited queries at the
    # (gitignored) sf1/sf10 snapshots -- minutes of runtime that a quick
    # sf0.01 plan audit or a fresh clone without snapshots should not
    # pay or fail on (ADVICE r11). They run only under
    # EXPLAIN_AUDIT_SCALE=1; otherwise each row is emitted as SKIPPED
    # (with the enabling command) and does NOT count as a failure.
    scale_enabled = os.environ.get("EXPLAIN_AUDIT_SCALE") == "1"
    for name, regimes in SCALE_REGIME_AUDIT.items():
        for rdir, exp in regimes.items():
            label = os.path.basename(rdir)
            row = f"| `{name} @ {label}` | SMJ == {exp['smj']}, joins == {exp['total']}, no cartesian/BNLJ | "
            if not scale_enabled:
                lines.append(
                    row
                    + "SKIPPED — set EXPLAIN_AUDIT_SCALE=1 (needs sf1/sf10"
                    " snapshots: python tools/regen_snapshots.py) |"
                )
                continue
            if not os.path.isdir(rdir):
                lines.append(
                    row + "FAIL — snapshot missing (python tools/regen_snapshots.py) |"
                )
                failures.append(f"{name}@{label}")
                continue
            with cache.artifact_scope(spark, f"{name}@{label}"):
                df = catalog.QUERIES[name].fn(spark, rdir)
                # materialize so AQE finalizes THIS QueryExecution (a
                # count()/agg would be a different plan -- column pruning
                # can legitimately drop the joins under audit). collect()
                # is bounded: both audited queries are fixed-panel top-k
                # outputs (<= panel x k rows), never corpus-sized.
                df.collect()
                plan = df._jdf.queryExecution().executedPlan().toString()
            final = plan.split("+- == Initial Plan ==")[0]
            bhj = len(re.findall(r"BroadcastHashJoin", final))
            smj = len(re.findall(r"SortMergeJoin", final))
            bad = len(
                re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", final)
            )
            ok = smj == exp["smj"] and bhj + smj == exp["total"] and bad == 0
            lines.append(
                row
                + (
                    "PASS"
                    if ok
                    else f"FAIL — BHJ={bhj} SMJ={smj} bad={bad}"
                )
                + " |"
            )
            if not ok:
                failures.append(f"{name}@{label}")

    for flagship in ["q05_region_revenue", "ref_j5_dedup_antijoin"]:
        lines += ["", f"## {flagship}", "", "```"]
        # keep plans readable: drop the AQE preamble, cap width
        body = plans[flagship]
        body = body.split("+- == Final Plan ==")[-1]
        lines += [ln[:160] for ln in body.splitlines()[:60]]
        lines += ["```"]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(l for l in lines if l.startswith("|")))
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all plan checks passed")


if __name__ == "__main__":
    main()
