"""Query catalog: importing this package registers every query.

Submodules:
    relational    - TPC-H-style analytics + windows/set-ops/cube/JSON/as-of
    reference_ops - SURVEY.md section 2 operators mapped onto the test tables
    llm_ops       - dedup / similarity / text-analysis / multimodal extensions
    curation_ops  - quality gates / quantized ANN / temperature mixing
    corpus_ops    - segment+substring dedup, incremental probe, sparse
                    retrieval, BPE round, DSIR weighting
    mining_ops    - hard negatives, kNN label vote, per-source
                    boilerplate strip, dataset card, token-budget
                    sampling, k-means clustering view + balanced sampling
    modelprep_ops - hashed linear quality-classifier inference,
                    data-mixing epoch plans, iterative BPE merge training
    audit_ops     - corpus-audit/assembly: cross-source overlap matrix,
                    train/val/test split, keep-best exact + near-dup
                    dedup, n-gram novelty, near-dup PageRank,
                    embedding outlier gate
"""

from . import relational  # noqa: F401
from . import partsupp  # noqa: F401
from . import reference_ops  # noqa: F401
from . import reference_ops_ext  # noqa: F401
from . import llm_ops  # noqa: F401
from . import curation_ops  # noqa: F401
from . import corpus_ops  # noqa: F401
from . import mining_ops  # noqa: F401
from . import modelprep_ops  # noqa: F401
from . import audit_ops  # noqa: F401

from ..registry import QUERIES, queries, oracle_sql  # noqa: F401

# The external correctness sweep walks the catalog in registration order
# under a budget (each round records roughly the first 50 entries), so
# registration order decides which queries get an official row this
# round. The ordering below is derived mechanically from the official
# CORRECTNESS_r*.json artifacts committed at the repo root -- nothing is
# hand-picked, and it strictly prioritizes verification debt:
#   block 0: never officially checked in any round
#   block 1: officially checked but red (hash/row/schema mismatch or
#            checker error) -- needs re-certification after a fix
#   block 2: green before, but changed SINCE its newest official green
#            (_CHANGED, a name -> round-changed map) -- a regression
#            here must not evade the sweep
#   block 3: green and untouched, OLDEST certification first -- the
#            age-based rotation that keeps every query's official green
#            within certage's MAX_AGE bound
# Within a block the tiebreak is (last_round, heavy): queries measured
# >2s at sf0.01 yield to sub-second checks OF THE SAME AGE but can no
# longer be starved behind the whole younger population (the r8 failure
# mode: six r6 heavies stuck at sweep positions 128+ while 117 younger
# non-heavy stale entries rotated ahead of them).

# Names whose Spark code or oracle SQL was edited, mapped to the round
# the edit happened in. A name ranks in block 2 only while its newest
# official green is OLDER than the recorded round -- once the sweep
# re-certifies it the entry self-suppresses, so leftover entries from a
# previous round cannot waste the next round's budget (the other r8
# failure mode: 11 already-recertified r8 names still pinned to the
# front at r9). Entries may be pruned once suppressed, but forgetting
# to prune is harmless by construction.
_CHANGED = {
    # round 9 (session 7): incremental-IVF coarse quantizer made
    # adaptive (S = max(1, n_base // 2000) sub-seeds per label, C ~
    # n_base/200; oracle mirrored). S == 1 at the certification SFs so
    # values there are bit-identical by construction, but the plan
    # changed and the sf1 result legitimately changes (C 10 -> 90) --
    # the sweep must re-certify and the sf1 row was re-verified in
    # session 7. (Entry pruned r11: re-certified r10, superseded by the
    # r11 oracle-text change recorded at the bottom of this map.)
    # round 9: hot-bucket STAR LINK -- every member of a capped band /
    # anchor bucket now also pairs with the bucket's min doc_id, so
    # beyond-cap members of a hot bucket keep an edge into the cluster
    # (ADVICE r8: identical boilerplate docs collapse all bands into one
    # bucket, so the pure cap orphaned them). Pair output and cluster
    # membership change; oracles mirrored.
    "llm_neardup_minhash_lsh_capped": 9,
    "llm_dedup_clusters": 9,
    "llm_neardup_keep_best": 9,
    "llm_neardup_pagerank": 9,
    "llm_neardup_containment": 9,
    # round 9: DSIR weight table moved from floor(double) to an exact
    # rational floor (DECIMAL DIV / HUGEINT //) after the sf1 snapshot
    # caught a cross-engine ULP flip; weights can shift by 1 at any SF
    "llm_importance_weights_dsir": 9,
    # round 9: same family -- display averages moved to exact integer
    # half-up (round(double, d) ties split the engines when counts
    # carry 5^(d+1)); values can shift in the last digit at any SF
    "llm_dataset_card": 9,
    # round 9 (continuation): brute dense scans re-planned -- the
    # interpreted per-pair zip_with/aggregate dot inside a
    # BroadcastNestedLoopJoin became ONE Arrow stage against the
    # collected query matrix (similarity.scores_vs_query_matrix; same
    # float-add order, so values are bit-identical by design -- but the
    # plan changed, so the sweep must re-certify), and ann_topk's
    # corpus-sized per-query window became the salted two-phase top-k
    "llm_ann_topk_cosine": 9,
    "llm_hard_negatives": 9,
    "llm_knn_label_vote": 9,
    # round 9 (continuation): top-k path now routes through the shared
    # similarity.two_phase_topk (same expressions, plan-identical by
    # construction -- fronted anyway, code moved)
    "llm_hard_negatives_ivf": 9,
    # round 9 (session 5): token-family plan simplifications -- values
    # identical by construction (same integer sums / same expressions),
    # but the plans changed so the sweep must re-certify. hashing
    # vectorizer's L2 norm and tfidf's doc length moved to doc_id-
    # bounded windows (single-branch plans, no norm/doclen join);
    # rag_retrieve_sparse now CARRIES both squared norms through the
    # inverted-index join instead of re-joining the candidate frame
    # against a norm table (at scale that table cannot broadcast and
    # would shuffle the largest intermediate)
    "llm_hashing_vectorizer": 9,
    "llm_tfidf_top_terms": 9,
    # round 10: query panel FIXED via RAG_QUERY_CAP (doc_id < 5000) --
    # the sf10 widening caught the uncapped panel growing with the
    # corpus (queries = docs/100), making the (qid, did) frame ~N^2/100
    # (>5x-over-linear wall at sf10). Values are bit-identical at
    # sf0.001/0.01/0.1 (every doc_id there is < 5000); sf1/sf10 values
    # legitimately change (panel pinned at 50) and were re-certified.
    "llm_rag_retrieve_sparse": 10,
    # round 9 (session 5): big-group money sums moved to exact integer
    # cents/discount units with half-up integer displays after the
    # float-margin audit (tools/float_margins.py) measured their
    # accumulation-order wobble (~15 ulps rel at sf1) within ~12x of
    # the rounding boundary -- certification had been surviving on
    # dice. VALUES CHANGE in low digits (exact sums replace float
    # sums), so the sweep must re-certify all seven.
    "q01_pricing_summary": 9,
    "q05_region_revenue": 9,
    "q06_forecast_revenue": 9,
    "q17_small_quantity_revenue": 9,
    "q19_disjunctive_predicates": 9,
    "g01_rollup_status_priority": 9,
    "g04_grouping_sets": 9,
    # round 10: exact leg made candidate-bounded (VERDICT r9 task 4) --
    # each token instance screens on its sketch estimate via chained
    # broadcast cell-row joins BEFORE the term-keyed exact count, so
    # aggregation state is sketch + candidates, never the vocabulary.
    # Output values are identical by construction (the screen keeps
    # exactly the terms the old post-agg filter kept), but the plan
    # changed, so the sweep must re-certify.
    "llm_heavy_hitters_cms": 10,
    # round 11: oracle made sf10-certifiable (VERDICT r10 task 2) --
    # the base-assignment CTE moved from ~180M interpreted list-fold
    # cosines + a 180M-row row_number window to native
    # array_cosine_similarity over DOUBLE[64] arrays + a streaming
    # arg_max on a BIGINT-packed (csim DESC, cid ASC) key. Outputs are
    # byte-equal to the old oracle at sf0.01/sf0.1/sf1 (A/B verified)
    # and the Spark side is untouched, but the ORACLE text changed, so
    # the sweep must re-certify. sf10 row: hash-green, 50k rows.
    "llm_ann_incremental_ivf": 11,
    # round 11: nprobe raised 3 -> 5 (oracles mirrored) after the first
    # recall-at-scale sweep (tools/ann_recall.py, 200-query panel)
    # measured the label-seeded C=10 quantizer at recall@5 0.61/0.65
    # (sf1/sf10) under nprobe=3 -- below the asserted 0.7 floor that the
    # 10-query test panel (0.86) had been hiding. Values change at every
    # SF (more probed cells => different candidate sets).
    "llm_ann_ivf_topk": 11,
    "llm_ann_ivf_kmeans_topk": 11,
    # round 12: paginated_source's fetch task gained the in-task retry
    # wrapper (every attempt re-acquires a bucket token; retry_attempts
    # defaults to 1 so this query's values are identical by
    # construction) -- but the mapInPandas closure bytes changed, so the
    # sweep must re-certify the one catalog query that routes through it
    "ref_s1_http_fixture_scan": 12,
    # round 13: sq8_topk's pool cut and final rank moved from
    # row_number().over(partitionBy("qid")) -- a corpus-wide window
    # hash-exchanged into exactly Q partitions, the r12 weak grade -- to
    # the shared salted two_phase_topk. Same (score DESC, nid ASC) order
    # on bit-stable scores at both stages, so values are identical by
    # construction, but the plan changed (now Window-free, audit-
    # enforced), so the sweep must re-certify.
    "llm_ann_quantized_topk": 13,
    # round 13 (continuation): candidate generation extracted from
    # ivf_probe_delta into _ivf_delta_candidates so the incremental
    # hybrid can union it with the int8 net -- identical expressions,
    # plan-identical by construction, but code moved, so fronted (the
    # r9 "code moved, fronted anyway" discipline).
    "llm_ann_incremental_ivf": 13,
    # round 13 (optimization): redundant-pass removals, all value-
    # identical by construction (integer/exact identities, same
    # expressions) but plan- or code-changed, so the sweep must
    # re-certify. Q2: min-cost via a per-part window over the filtered
    # slice instead of groupBy+broadcast-rejoin (the rejoin re-executed
    # the whole cascade). Bigram LM: c1/V derived from persisted c12
    # instead of two more corpus passes. Bloom decontaminate: eval-gram
    # set + bitmap persisted (build-once artifacts). Dedup clusters:
    # connected_components' convergence count piggybacks the checkpoint
    # job via an Observation (code changed; result frame identical).
    "q02_min_cost_supplier": 13,
    "llm_bigram_lm_score": 13,
    "llm_decontaminate_bloom": 13,
    "llm_dedup_clusters": 13,  # overrides the round-9 entry above
    # round 13 (optimization, session 2): the AQE no-stage-reuse finding
    # -- a twice-referenced aggregate subtree executes twice under AQE
    # (exchange reuse only fires with AQE off), so every scalar-total
    # crossJoin(broadcast(frame.agg())) re-ran its upstream cascade.
    # Bounded aggregates (languages / sources / NFEAT / cells) now take
    # totals from a global window over the tiny frame; q11 materializes
    # the slim per-part frame once (localCheckpoint); embedding_outlier
    # persists the slim d2 frame. Integer sums are order-free, values
    # bit-identical; plans changed, so the sweep must re-certify.
    "q11_important_stock": 13,
    "llm_lang_temperature_sample": 13,
    "llm_mixture_epochs": 13,
    "llm_importance_weights_dsir": 13,  # overrides the round-9 entry
    "llm_cluster_balanced_sample": 13,
    "llm_embedding_outlier": 13,
    # round 13 (optimization, session 4): the scan-census follow-up to
    # the AQE finding (tools/census.py counts per-relation scans
    # in every headline query's executed plan). dataset_card held the
    # worst leftover -- THREE full tokenize+md5 documents scans (base
    # referenced by two branches, lang_cnt itself referenced twice);
    # now the slim projection is persisted and top-lang + n_langs merge
    # into one aggregate. bigram_lm_score's persisted bigram stream
    # drops the w1 column (a byte-for-byte prefix of bigram) and c12
    # groups by bigram alone (w1 functionally dependent -- identical
    # groups, narrower shuffle key). Values bit-identical by
    # construction; plans changed, so the sweep must re-certify.
    "llm_dataset_card": 13,  # overrides the round-9 entry above
    # (llm_bigram_lm_score already fronted at 13 by the session-2 entry)
    # round 13 (session 5): segment family re-shaped to decide-with-
    # small-rows -- the tokenize+md5 segment pass runs once into a
    # persisted slim (doc_id[, source], seg_idx, seg_hash) stream,
    # drop decisions become per-doc position lists, and kept_text
    # reassembles in one md5-free text pass with array expressions
    # (no collect_list group-back). Values identical by construction
    # (equivalence property-tested vs the old group-back inlined in
    # tests/test_segment_reassembly.py, and hash-green vs the oracle
    # at sf0.001/0.01/0.1), but plans changed: the sweep must
    # re-certify.
    "llm_segment_dedup": 13,
    "llm_segment_dedup_keep_first": 13,
    "llm_boilerplate_strip": 13,
    # round 15: q11's registration is back on q11_important_stock (since
    # r14 the catalog served the unfiltered per-part frame under its
    # name). Both pipelines now read each input once through a lazy
    # local checkpoint and hash attachments before the message join;
    # values identical (hash-green at sf0.01), plans changed.
    "q11_important_stock": 15,  # overrides the round-13 entry above
    # round 15 (continued): the pipelines' error side-channel runs through
    # operators/errors.py (with_error + split_errors for skipped records,
    # warning_rows for warnings); sorted customers, warnings,
    # conversations and errors identical on the fixtures, plans changed.
    "ref_pipeline_sync_customers": 15,  # checkpointed input; five warning branches -> warning_rows
    "ref_pipeline_sync_tickets": 15,  # checkpointed inputs; error strings -> with_error/split_errors
    "ref_a2_error_grouping": 15,  # hand-written groupBy -> group_error_report
    "ref_k4_error_csv_export": 15,  # writes write_error_csv's (type, detail) rows, counts the read-back
    # round 15: the ANN family became (qid, nid) candidate generators
    # plus one exact re-rank (similarity._rerank: the salted
    # two_phase_topk), with one IVF cell probe (cell_probe) and one
    # label codebook (label_centroids). Values identical (sorted-row
    # sha256 unchanged at sf0.01 and sf0.1); plans changed.
    "llm_ann_lsh_topk": 15,  # window top-k -> _rerank
    "llm_ann_ivf_topk": 15,  # window top-k -> _rerank; probe -> cell_probe
    "llm_ann_ivf_kmeans_topk": 15,  # as ivf_topk; refinement via assign_cells
    "llm_ann_quantized_topk": 15,  # bounded re-rank tail -> _rerank
    "llm_ann_ivf_hybrid_topk": 15,  # IVF leg -> cell_probe; tail -> _rerank
    "llm_ann_incremental_ivf": 15,  # delta probe -> cell_probe; window -> _rerank
    "llm_ann_incremental_hybrid": 15,  # cell_probe leg; int8 leg self-filter; _rerank
    "llm_hard_negatives_ivf": 15,  # probe -> cell_probe (assignment now persisted)
    "llm_cluster_kmeans_assign": 15,  # codebook -> label_centroids + assign_cells
    "llm_semantic_dedup_clusters": 15,  # shares _kmeans_assigned with the above
    "llm_cluster_balanced_sample": 15,  # samples llm_cluster_kmeans_assign's cells
}

# Queries measured >= 2s in the full sf0.01 oracle sweep (Spark + DuckDB
# oracle side; r6 re-measure from the SELFCHECK_r06 run, in-sweep
# artifact reuse included). The r4-era members that fell OFF this list
# did so for real reasons: the table-driven Huffman decode + lazy frame
# sampling (mjpeg 10s -> 0.9s), signature-artifact reuse (simhash family
# sub-second), and the memoized image fixtures. The two warmup-inflated
# first-position entries (llm_repetition_stats, llm_quality_filter_c4 --
# sub-second warm in BENCH_DETAIL) are deliberately excluded.
_HEAVY = {
    # re-measured from the r6-continuation full-sweep (in-sweep artifact
    # reuse included, as always); the r6 members that fell off did so
    # via real effects -- shared signature/index artifact reuse and the
    # oracle-side DuckDB costs amortizing across the bigger catalog
    "llm_bigram_lm_score",            # 19s: ORACLE-side per-doc list_reduce fold
    "llm_semantic_dedup_assign",      # 11.3s: brute-force pair oracle in DuckDB
    "llm_neardup_embedding_lsh",      # 10.8s: same oracle shape
    "ref_pipeline_sync_tickets",      # 7.8s: end-to-end pipeline + JSON oracle
    "llm_ann_lsh_topk",               # 6.7s: index build + recall oracle
    "ref_s1_python_datasource",       # 3.7s: registered-datasource round trip
    "llm_dedup_clusters",             # 3.2s: iterative CC
    "llm_ann_ivf_kmeans_topk",        # 2.5s
    "llm_cluster_kmeans_assign",      # same Lloyd-round machinery + oracle family
    "llm_cluster_balanced_sample",    # extends that oracle with the rate CTEs
    "llm_hard_negatives_ivf",         # cell-join oracle over the same prefix
    "ref_t3_streaming_state_dedup",   # 2.1s: streaming query startup
    "ref_t1_streaming_quota",         # 2.1s: streaming query startup
    # r7 iterative ops: multi-round driver loops + unrolled-CTE oracles
    "llm_embedding_pca_power",        # ~12s: 4-round HUGEINT oracle replay
    "llm_bpe_train_merges",           # ~6s: 6-round window-merge oracle
    "llm_bpe_tokenize_apply",         # ~13s: full chain replay + doc join
    # r7 audit family: gram-keyed source-set aggregation + HOF pair
    # expansion (the Spark side; the DuckDB oracle self-join is 0.2s)
    "llm_cross_source_overlap",       # ~8s
    # shares the clusters' label-propagation build + recursive-CTE oracle
    "llm_neardup_keep_best",          # ~8s
    # 3 unrolled PageRank rounds over the pair graph + unrolled oracle
    "llm_neardup_pagerank",           # ~14s
    # base/delta IVF split: two cell-ranking windows in the oracle
    "llm_ann_incremental_ivf",        # ~10s
}


def _official_status() -> tuple[set[str], set[str], dict[str, int]]:
    """Scan CORRECTNESS_r*.json at the repo root.

    Returns (checked, green, last_round): names with any official row,
    names whose LATEST official row passed (hash_match true, or a
    rows-only row that produced rows without error), and the newest
    round number each name appeared in.
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    checked: set[str] = set()
    latest: dict[str, dict] = {}
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            checked.add(name)
            latest[name] = row
            last_round[name] = max(last_round.get(name, 0), rnd)
    green = set()
    for name, row in latest.items():
        if row.get("hash_match") is True:
            green.add(name)
        elif row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0:
            green.add(name)  # rows-only check: ran and produced rows
    return checked, green, last_round


def _apply_sweep_order() -> None:
    try:
        checked, green, last_round = _official_status()
    except Exception:
        return  # keep registration order if artifacts are unreadable
    newest = max(last_round.values(), default=0)

    def block(name: str) -> int:
        if name not in checked:
            return 0
        if name not in green:
            return 1
        if last_round.get(name, 0) < _CHANGED.get(name, 0):
            # changed after its newest official green -- must recertify.
            # Strict < is correct (not <=): the official sweep runs ONCE
            # per round against the END-of-round commit, so a green at
            # round N certified the round-N edits -- last_round == the
            # recorded change round means the edit was already swept.
            return 2
        if last_round.get(name, 0) < newest:
            # STALE green: certified in an older round but skipped by the
            # newest official sweep. Fronting these (oldest certification
            # first) keeps the union of consecutive official artifacts
            # covering the whole catalog at current HEAD, instead of the
            # sweep re-spending its budget on last round's fresh greens.
            return 3
        return 4

    def key(name: str) -> tuple[int, int, int]:
        b = block(name)
        heavy = 1 if name in _HEAVY else 0
        # block 3 (stale greens) rotates oldest-first with HEAVIES
        # LEADING their age cohort: a >2s query that misses this
        # round's budget window waits a whole extra round, so the
        # oldest heavies must not queue behind every same-age
        # sub-second check (the r8 failure: six r6 heavies parked at
        # positions 128+). Elsewhere (new/red/changed) cheap checks
        # still go first -- certifying many beats certifying slow.
        if b == 3:
            heavy = -heavy
        return (b, last_round.get(name, 0), heavy)

    reordered = dict(sorted(QUERIES.items(), key=lambda kv: key(kv[0])))
    QUERIES.clear()
    QUERIES.update(reordered)


_apply_sweep_order()
