"""Shuffle-record scaling probe: deterministic 10x-growth evidence for
the dedup/ANN/curation family.

The 100 TB question for every candidate-generating operator is "how does
the shuffled volume grow when the data grows?" -- wall time at fixture
scale cannot answer it (fixed overheads and timer noise swamp the
signal), but TOTAL SHUFFLE-READ RECORDS are exact, reproducible, and
exactly the quantity that prices the operator on a cluster. This
harness runs each probe query at sf0.01 (500 docs / 500 vectors) and
sf0.1 (5000 / 5000), attributes event-log task metrics to per-query job
groups, and reports the record-growth ratio against the 10x data growth.

Classes:
  linear    -- bucketed/capped/map-shaped ops whose shuffle must grow
               ~linearly with the corpus: ratio must stay under
               LINEAR_BOUND (generous 3x headroom over proportional
               growth for bucket-density drift; the quadratic signature
               this guards against is ~100x).
  query_set -- ops whose FIXTURE query set itself grows with the corpus
               (the delta slice is vec_id % DELTA_MOD; the retrieval
               probe set is doc_id % 100), so the probe measures
               queries x corpus compound growth: bound is LINEAR_BOUND
               x DATA_RATIO. A fixed production query/delta batch makes
               these per-query-linear; the r9 second-decade run
               (sf0.1 -> sf1, a TRUE 10x on embeddings) measured
               llm_ann_incremental_ivf at 96.7x under the compound
               growth -- 9.7x per query -- which one 4x-embeddings
               decade had hidden under the plain linear bound.
  control   -- the UNCAPPED pair enumerators, reported but unbounded:
               their super-linear growth is the measured reason the
               capped/assign variants exist.
  phase     -- ops with a join side that legitimately crosses Spark's
               broadcast threshold somewhere between the measured
               decades (a dim table or the corpus vector frame): the
               cross-decade RATIO spans a broadcast->shuffle step
               (records jump from ~0 to linear-in-data, e.g. q07
               measured 4466x across the r9 third decade while doing
               ~0.9 records per input row), so the bound is instead
               RECORDS PER INPUT ROW at EACH scale (PHASE_PROBES:
               per-probe coefficient x the probed tables' parquet
               metadata row counts -- a true linearity statement that
               is immune to the plan-phase change Spark is RIGHT to
               make at scale).

Each query runs with artifacts cleared before AND between runs, so its
records include its full build (shingles/signatures/index) -- the
self-contained cost a fresh corpus snapshot would pay.

Exit 0 + one JSON line; exit 1 if a linear-class op breaches its bound.
Usage: python tools/scale_records.py [small_sf_dir] [large_sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog

DATA_RATIO = 10.0
LINEAR_BOUND = 30.0  # linear-class ops: max allowed record-growth ratio
# Wall-inversion annotation threshold: below this absolute small-side
# wall, a small>2x-large inversion is classed overhead-dominated (the
# fixed per-plan floor at fixture scales); at or above it the inversion
# is flagged as a real violation (VERDICT r11 task 4).
OVERHEAD_WALL_CEIL_S = 10.0

# phase-class probes: name -> (max shuffle records per input row at
# EITHER scale, tables whose parquet row counts are the input). The
# coefficient carries ~3x headroom over the measured post-transition
# (all-shuffle) value, same convention as LINEAR_BOUND.
PHASE_PROBES = {
    # measured 0.88 records/row at sf10 (shuffled lineitem+orders join
    # + partial aggs); dims broadcast at every scale
    "q07_nation_volume": (
        3.0,
        ["lineitem", "orders", "customer", "supplier", "nation", "region"],
    ),
    # measured ~19 records/vector at sf10: N x SEM_ANCHORS candidates
    # through rank window + two-sided vector rejoin once the embedding
    # frame stops broadcasting
    "llm_semantic_dedup_clusters": (60.0, ["embeddings"]),
    # measured ~30 records/doc at sf10 (~= nz rows/doc): the nz-vs-nn
    # norm-attach join stops broadcasting nn (500k rows ~ the 10MB
    # threshold) and becomes the co-partitioned nz-scale shuffle the
    # docstring promises at 100 TB; below the transition the coefficient
    # is ~1.5-6/doc. The candidate frame itself stays panel x corpus
    # after the r10 RAG_QUERY_CAP fix (decade-3 pre-fix blew the wall
    # at 2.5B pairs; post-fix the 15.2M records ARE the linear nz rows)
    "llm_rag_retrieve_sparse": (90.0, ["documents"]),
}

# query -> class
PROBES = {
    "llm_dedup_exact": "linear",
    "llm_dedup_by_source": "linear",
    "llm_repetition_stats": "linear",
    "llm_lang_temperature_sample": "linear",
    "llm_hashing_vectorizer": "linear",
    "llm_decontaminate_bloom": "linear",
    "llm_neardup_minhash_lsh_capped": "linear",
    "llm_neardup_simhash_capped": "linear",
    "llm_simhash_dedup_assign": "linear",
    "llm_semantic_dedup_assign": "linear",
    "llm_ann_lsh_topk": "linear",
    "llm_ann_ivf_topk": "linear",
    "llm_ann_quantized_topk": "linear",
    # r13 floor-carrying hybrid: both legs are corpus-linear (IVF cell
    # join + int8 scan vs a fixed query panel), so the union is too
    "llm_ann_ivf_hybrid_topk": "linear",
    # corpus-maintenance family (r6 continuation): segment hashing,
    # delta-bounded incremental probe, broadcast retrieval, vocab-bounded
    # BPE round, NFEAT-bounded DSIR scoring -- all must grow ~linearly
    "llm_segment_dedup": "linear",
    "llm_neardup_incremental_lsh": "linear",
    # r10: PHASE class. Two effects meet here: (a) the query panel
    # grows with the corpus only below the RAG_QUERY_CAP (doc_id <
    # 5000), pinned at 50 queries from sf0.1 up -- the uncapped panel
    # blew a >5x-over-linear wall at sf10 (2.5B candidate pairs), the
    # r10 cap fix; (b) the nz-vs-nn norm join crosses the broadcast
    # threshold between sf1 and sf10, so cross-decade record ratios
    # span the transition. The phase bound (records per DOCUMENT row
    # at each scale, PHASE_PROBES) holds through both.
    "llm_rag_retrieve_sparse": "phase",
    "llm_bpe_pair_counts": "linear",
    "llm_importance_weights_dsir": "linear",
    "llm_substring_dedup_spans": "linear",
    "llm_bigram_lm_score": "linear",
    "llm_segment_dedup_keep_first": "linear",
    # mining family (r6 session 3): brute dense scans against a FIXED
    # anchor/probe set (corpus-linear by construction), source-scoped
    # boilerplate counting, and the per-source card aggregation
    "llm_hard_negatives": "linear",
    "llm_knn_label_vote": "linear",
    "llm_boilerplate_strip": "linear",
    "llm_dataset_card": "linear",
    "llm_token_budget_sample": "linear",
    "llm_cluster_kmeans_assign": "linear",
    # r9 SemDeDup: candidates are N x SEM_ANCHORS within cells, never
    # width^2; ranking is one cell-keyed window. Class phase: the
    # candidate->vector rejoin broadcasts the (prepared) embedding side
    # until it crosses spark.sql.autoBroadcastJoinThreshold, then
    # correctly becomes a shuffle join -- the r9 third decade measured
    # the transition as a 53x record jump that is ~19 records/vector,
    # i.e. linear with a phase step, not quadratic growth
    "llm_semantic_dedup_clusters": "phase",
    "llm_cluster_balanced_sample": "linear",
    "llm_hard_negatives_ivf": "linear",
    "llm_embedding_jl_project": "linear",
    # model-prep family (r7): map-only classifier inference, bounded
    # epoch explode, and the BPE loop (word-table shuffles are
    # vocab-sized, SUB-linear in the corpus)
    "llm_quality_classifier_score": "linear",
    "llm_mixture_epochs": "linear",
    "llm_bpe_train_merges": "linear",
    "llm_bpe_tokenize_apply": "linear",
    "llm_embedding_pca_power": "linear",
    # audit/assembly family (r7): gram-keyed source-set aggregation
    # (pairs bounded by C(|sources|,2) per gram), map-only split,
    # hash-agg argmax dedup, first-owner novelty join
    "llm_cross_source_overlap": "linear",
    "llm_train_val_test_split": "linear",
    "llm_dedup_keep_best": "linear",
    "llm_ngram_novelty": "linear",
    # r7 session-2 additions: graph/centrality, outlier gate, cohort
    # matrix, SCD2 merge, per-column profiler -- all hash-agg/broadcast
    # shapes that must stay ~linear
    "llm_neardup_pagerank": "linear",
    "llm_embedding_outlier": "linear",
    "a05_retention_cohorts": "linear",
    "d01_scd2_customer_merge": "linear",
    "p03_profile_lineitem": "linear",
    # delta probes the standing index: the fixture's delta slice
    # (vec_id % DELTA_MOD) grows with the corpus, but since the r9
    # session-7 adaptive quantizer (C ~ n_base/200, S sub-seeds per
    # label) the cell WIDTH it probes stays ~constant -- records grow
    # ~linearly in the delta size, so the 30x linear bound applies.
    # (The earlier pinned-10-cell form measured the compound 96.7x
    # shape under the query_set class and spilled out the third
    # decade; the adaptive codebook is the production story.)
    "llm_ann_incremental_ivf": "linear",
    # r13 incremental hybrid: probe leg bounded by delta x cell width,
    # net leg by the CAPPED panel x base (panel fixed from sf0.1 up)
    "llm_ann_incremental_hybrid": "linear",
    # agg-then-join: the full-outer input is day-partials, not facts
    "s04_full_outer_ship_reconciliation": "linear",
    # conditional stats + gram-presence collapse: one shingle pass
    "llm_source_drift_report": "linear",
    # containment's anchor buckets are CAPPED (r8) + star-linked (r9)
    # -- cap*(cap-1)/2 + width-cap candidates per bucket, so the 30x
    # linear bound is enforced on it like the other capped paths
    "llm_neardup_containment": "linear",
    # uncapped enumerators: the measured negative controls
    "llm_neardup_minhash_lsh": "control",
    "llm_neardup_simhash": "control",
    "llm_neardup_ngram_jaccard": "control",
    # r9 relational representatives: with tools/gen_scale_rel.py the
    # TPC-H-shaped surface has a second decade too (replica-block sf1
    # preserves join fanout exactly, so growth ratios are pure data
    # volume). One representative per shuffle shape: full-scan partial
    # agg, broadcast-dim multi-join, time-bucketed range join,
    # gap-sessionize window, running-sum window, cube expansion.
    # r9 count-min sketch: the x D token fanout collapses map-side to
    # <= D*W cells per partition; both shuffles (cells, vocab counts)
    # must stay ~linear in the corpus
    "llm_heavy_hitters_cms": "linear",
    "q01_pricing_summary": "linear",
    # class phase: the orders side of the lineitem join outgrows the
    # broadcast threshold at sf10 (the r9 third decade measured the
    # broadcast->shuffle step as a 4466x ratio that is ~0.9
    # records/input-row -- the CORRECT at-scale shuffled-join plan)
    "q07_nation_volume": "phase",
    "a03_range_join_order_events": "linear",
    "a02_sessionize_events": "linear",
    "w02_running_customer_spend": "linear",
    "g02_cube_returnflag_linestatus": "linear",
}


def _probes() -> dict[str, str]:
    """PROBES, optionally restricted to the comma-separated names in
    $SCALE_PROBES -- the second-decade (sf0.1 -> sf1) runs probe only
    the flagship chains whose tables the generated sf1 snapshot
    carries (tools/gen_scale.py writes documents + embeddings only)."""
    only = os.environ.get("SCALE_PROBES")
    if not only:
        return PROBES
    names = {n.strip() for n in only.split(",") if n.strip()}
    return {n: k for n, k in PROBES.items() if n in names}


def _run_sweep(sf_dir: str) -> tuple[dict[str, int], dict[str, float]]:
    import time

    from groove_to_helpscout_migration_tool_spark import catalog
    from groove_to_helpscout_migration_tool_spark.operators import cache

    # Heap: get_session's default is half the host's memory, at most 32g
    # ($SPARK_GRAFT_DRIVER_MEM overrides). Records do not depend on it, but
    # llm_neardup_pagerank's sf10 plan OOMs SOLO at 16g (its unrolled-round
    # broadcasts), with nothing accumulated: below a 64 GB host, set 32g.
    spark, log = eventlog.session("scale-records", {"spark.sql.shuffle.partitions": "16"})
    sc = spark.sparkContext
    from pyspark.sql import functions as F

    # One-time session warm-up under its OWN job group, so the first
    # real probe's wall clock doesn't absorb JVM JIT / codegen compile /
    # Arrow python-worker spawn: the r11 decade-1 artifact recorded
    # llm_dedup_exact at 5.95s small vs 0.37s large -- session startup,
    # not the operator -- inviting misreads of an inverted wall (VERDICT
    # r10 task 5b). Covers the three cold paths: parquet scan, one
    # shuffle aggregation, one Arrow batch stage. Records attribute to
    # "warmup" and are never reported.
    with cache.artifact_scope(spark, "warmup"):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        docs.groupBy(F.length("text") % 7).count().collect()
        warm = docs.limit(64).mapInPandas(lambda it: it, docs.schema)
        warm.agg(F.count(F.lit(1))).collect()

    walls: dict[str, float] = {}
    for name in _probes():
        spec = catalog.QUERIES.get(name)
        if spec is None:
            continue
        # A per-probe WARM pass in the "warmup" group: the session warm-up
        # cannot warm each query's own codegen/JIT, so the small-scale
        # sweep (fresh JVM) recorded walls up to 8x its large-scale twin's
        # (16 such inversions in the r11 decade-1 pre-fix artifact).
        # SCALE_NO_WARM=1 skips it. Each run's scope releases its
        # artifacts, so the timed run, and the next query, pay their own
        # full build at BOTH scales: records stay the self-contained
        # single-run cost. The driver GC after each run lets the
        # ContextCleaner free dead broadcast/shuffle state, which a wide
        # sweep on a big heap otherwise piles up until allocation stalls
        # (the r10 37-probe sf10 sweep died at 16g; r10 task 5a).
        for group in ([] if os.environ.get("SCALE_NO_WARM") else ["warmup"]) + [name]:
            with cache.artifact_scope(spark, group):
                t0 = time.monotonic()
                eventlog.fold(spec.fn(spark, sf_dir))
                walls[name] = round(time.monotonic() - t0, 2)
            sc._jvm.System.gc()
    spark.stop()  # flush the event log
    return {name: g.shuffle_records for name, g in eventlog.parse(log).items()}, walls


def _input_rows(sf_dir: str, tables: list[str]) -> int:
    """Total row count of the probe's input tables from parquet FOOTER
    metadata (no scan). Missing tables (partial generated snapshots)
    count 0 -- a probe that reads them would have failed loudly."""
    import pyarrow.parquet as pq

    total = 0
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            total += pq.read_metadata(path).num_rows
    return total


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    large = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_path = sys.argv[3] if len(sys.argv) > 3 else None
    recs_small, wall_small = _run_sweep(small)
    recs_large, wall_large = _run_sweep(large)
    report: dict[str, dict] = {}
    violations: list[str] = []
    for name, klass in _probes().items():
        s, l = recs_small.get(name, 0), recs_large.get(name, 0)
        ratio = round(l / s, 2) if s else None
        report[name] = {
            "class": klass,
            "records_small": s,
            "records_large": l,
            "growth_ratio": ratio,
            "wall_small_s": wall_small.get(name),
            "wall_large_s": wall_large.get(name),
        }
        # Wall-inversion annotation (VERDICT r11 task 4): at decade-1
        # absolute magnitudes (sub-~10s walls) the fixed per-plan floor
        # -- stage scheduling, codegen compile, Arrow worker spin-up --
        # dominates the data term even after the per-probe warm pass, so
        # small-scale walls can legitimately exceed large-scale ones.
        # Annotate those probes explicitly so the inversion reads as the
        # measurement regime, not a scaling anomaly; an inversion at
        # BIG walls gets a loud marker instead (it would be real).
        ws, wl = wall_small.get(name), wall_large.get(name)
        if ws is not None and wl is not None and ws > 2 * wl:
            if ws < OVERHEAD_WALL_CEIL_S:
                report[name]["wall_regime"] = (
                    "overhead-dominated: absolute walls at the fixed"
                    " per-plan floor; ordering at this magnitude is"
                    " noise -- the record counts carry the scale claim"
                )
            else:
                report[name]["wall_regime"] = "INVERTED-AT-SCALE (investigate)"
                violations.append(
                    f"{name}: wall {ws}s small > 2x {wl}s large at"
                    f" >= {OVERHEAD_WALL_CEIL_S}s magnitude"
                )
        if klass == "phase":
            coef_bound, tables = PHASE_PROBES[name]
            rs, rl = _input_rows(small, tables), _input_rows(large, tables)
            cs = round(s / rs, 2) if rs else None
            cl = round(l / rl, 2) if rl else None
            report[name].update(
                {
                    "input_rows_small": rs,
                    "input_rows_large": rl,
                    "records_per_input_row_small": cs,
                    "records_per_input_row_large": cl,
                    "coef_bound": coef_bound,
                }
            )
            for side, coef in (("small", cs), ("large", cl)):
                if coef is not None and coef > coef_bound:
                    violations.append(
                        f"{name}: {coef} shuffle records per input row "
                        f"({side} scale) > {coef_bound} (phase)"
                    )
            continue
        bound = {
            "linear": LINEAR_BOUND,
            # query set grows with the corpus in the fixture: compound
            # queries x corpus bound (per-query still linear)
            "query_set": LINEAR_BOUND * DATA_RATIO,
        }.get(klass)
        if bound is not None and ratio is not None and ratio > bound:
            violations.append(
                f"{name}: record growth {ratio}x > {bound}x for "
                f"{DATA_RATIO}x data ({klass})"
            )
    out = {
        "small_sf_dir": small,
        "large_sf_dir": large,
        "data_ratio": DATA_RATIO,
        "linear_bound": LINEAR_BOUND,
        "probes": report,
        "violations": violations,
    }
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
    print(json.dumps(out))
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
