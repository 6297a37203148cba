"""Skew stress harness: measured straggler evidence for the salted join
and the capped dedup candidate joins (VERDICT r4 item 6).

The 100x-scale claim on the skew paths was prose; this turns it into a
measurement. A fresh session runs each scenario over a DELIBERATELY
hot-keyed frame with event logging on and broadcast joins disabled
(emulating the at-scale shape where the dim side is NOT broadcastable
-- with a broadcast join the hot key never shuffles and salting is
moot). Per-task shuffle-read record counts come from the event log
(the same task-level data the UI/REST status API serves; records, not
wall time, because at test scale timing noise swamps ms-sized tasks
while the record distribution is exactly what drives task time at
100 TB).

Scenarios (each in its own job group so stages attribute cleanly):
  join_salted     ref_skew_salted_join's hot frame (1/3 of facts on one
                  key) through salted_join -- max/median task records
                  must stay under SALT_BOUND.
  join_unsalted   the SAME frame through a plain shuffle join -- the
                  negative control; its ratio must be >= CONTROL_MIN
                  and worse than the salted ratio, proving the
                  measurement detects the pathology salting removes.
  minhash_capped  documents with 10% identical boilerplate text (one
                  hot LSH band bucket) through the capped minhash
                  pipeline -- ratio under CAP_BOUND.
  simhash_capped  same hot corpus through the capped simhash pipeline.

Exit 0 and one JSON line on success; exit 1 listing violated bounds.
Usage: python tools/skew_stress.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog

SALT_BOUND = 3.0     # salted join: max/median shuffle-read records per task
CAP_BOUND = 4.0      # capped dedup candidate joins
CONTROL_MIN = 4.0    # unsalted control must be at least this skewed
MIN_TASKS = 4        # ignore stages too small to have a distribution
PAIR_CAP = 8         # mirrors catalog.llm_ops._LSH_CAP (the graph family's cap)
# per-bucket candidate ceiling with the r9 anchor star: cap*(cap-1)/2
# self-join pairs + (width - cap) star edges -- LINEAR in width (the
# uncapped control stays quadratic)
PAIR_CAP_SELF = PAIR_CAP * (PAIR_CAP - 1) // 2  # 28


def _cap_ceiling(width: int) -> int:
    return PAIR_CAP_SELF + max(width - PAIR_CAP, 0)


def _hot_docs(spark, sf_dir: str):
    """documents with doc_id % 10 == 0 rewritten to one boilerplate text:
    ~10% of the corpus lands in a single near-dup bucket."""
    from pyspark.sql import functions as F

    from groove_to_helpscout_migration_tool_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ["documents"]).documents
    boiler = (
        "subscribe to our newsletter for updates terms of service apply "
        "all rights reserved contact support for assistance thank you"
    )
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0, F.lit(boiler)).otherwise(
            F.col("text")
        ),
    )


def _scenarios(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from groove_to_helpscout_migration_tool_spark.operators import dedup
    from groove_to_helpscout_migration_tool_spark.operators.skew import salted_join
    from groove_to_helpscout_migration_tool_spark.session import load_tables

    t = load_tables(spark, sf_dir, ["lineitem", "nation"])
    facts = t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.when(F.col("l_orderkey") % 3 == 0, 0)
        .otherwise((F.col("l_orderkey") % 50).cast("int"))
        .cast("int")
        .alias("mailbox_id"),
    )
    dim = t.nation.select(
        (F.col("n_nationkey") * 2).cast("int").alias("mailbox_id"),
        F.col("n_name").alias("mailbox_name"),
    )
    hot = _hot_docs(spark, sf_dir)
    # NOTE: AQE skew-join splitting (mitigation #2 in operators/skew.py's
    # preference order) was tried as a scenario here and does NOT trigger
    # at local fixture scale: OptimizeSkewedJoin reports 0 skewed
    # partitions even with skewedPartitionThresholdInBytes /
    # advisoryPartitionSizeInBytes / minPartitionSize floored to 1KB and a
    # 90%-hot key -- its byte-based detection is tuned for cluster-sized
    # shuffles. Which is precisely why the deterministic salting below is
    # the engine's primary skew mitigation: it works at ANY scale and its
    # effect is measurable (and measured) here.
    return {
        "join_salted": lambda: salted_join(
            facts, dim, "mailbox_id", salt_src=F.col("l_linenumber"), n_salts=8
        ).count(),
        "join_unsalted": lambda: facts.join(dim, "mailbox_id").count(),
        "minhash_capped": lambda: dedup.minhash_lsh_pairs(
            hot, jaccard_threshold=0.5, bucket_cap=20
        ).count(),
        "simhash_capped": lambda: dedup.simhash_neardup_pairs(
            hot, max_hamming=8, bucket_cap=20
        ).count(),
    }


def _pair_probe(spark, sf_dir: str) -> tuple[dict, list[str]]:
    """Hot-bucket PAIR-COUNT boundedness AND member coverage for the
    capped near-dup paths the graph family (clusters / keep-best /
    PageRank / containment) builds on. The 10%-boilerplate corpus puts
    every hot doc in ONE band bucket (identical text -> identical
    signature), so:

      uncapped  hot-hot pairs == C(n_hot, 2)  -- the quadratic control
      capped    hot-hot pairs == C(PAIR_CAP, 2) + (n_hot - PAIR_CAP):
                every band keeps the same PAIR_CAP lowest doc_ids for
                the self-join, and the r9 anchor STAR adds one edge per
                remaining member (dedup.star_pairs) -- LINEAR in bucket
                width (70 at cap=8/50 hot docs vs 1225 uncapped; ~100k
                vs ~5e9 at 100k hot docs in a 100 TB corpus)
      anchor-capped ngram candidates: same shape on the bottom-1 anchor
                join (all hot docs share their minimum shingle).

    Coverage is the star's recall proof: every hot doc must appear in
    at least one capped pair -- under the r8 pure cap, beyond-cap
    members of the collapsed bucket lost EVERY edge (the ADVICE r8
    defect) and silently survived dedup.

    Counts, not task records: the quadratic pathology here is OUTPUT
    size, which task-level shuffle metrics only see once it is far
    gone."""
    from pyspark.sql import functions as F

    from groove_to_helpscout_migration_tool_spark.operators import cache, dedup

    hot = _hot_docs(spark, sf_dir)
    hot_pred = (F.col("doc_i") % 10 == 0) & (F.col("doc_j") % 10 == 0)
    n_hot = hot.filter(F.col("doc_id") % 10 == 0).count()

    with cache.artifact_scope(spark, "pair_probe_uncapped"):
        unc_hot = dedup.minhash_lsh_pairs(hot, jaccard_threshold=0.5).filter(hot_pred).count()
    with cache.artifact_scope(spark, "pair_probe_capped"):
        cap = dedup.minhash_lsh_pairs(hot, jaccard_threshold=0.5, bucket_cap=PAIR_CAP)
        cap_hot = cap.filter(hot_pred).count()
        # star recall: distinct hot docs touched by at least one capped pair
        cap_cover = (
            cap.filter(hot_pred)
            .select(F.explode(F.array("doc_i", "doc_j")).alias("d"))
            .distinct()
            .count()
        )
    with cache.artifact_scope(spark, "pair_probe_anchor"):
        cont = dedup.ngram_jaccard_pairs(hot, jaccard_threshold=0.4, anchor_cap=PAIR_CAP)
        cont_hot = cont.filter(hot_pred).count()

    expect_unc = n_hot * (n_hot - 1) // 2
    ceiling = _cap_ceiling(n_hot)
    probe = {
        "n_hot_docs": n_hot,
        "hot_pairs_uncapped": unc_hot,
        "hot_pairs_uncapped_expected": expect_unc,
        "hot_pairs_capped": cap_hot,
        "hot_docs_covered_capped": cap_cover,
        "hot_pairs_anchor_capped": cont_hot,
        "cap": PAIR_CAP,
        "cap_pair_ceiling": ceiling,
    }
    violations = []
    if unc_hot != expect_unc:
        violations.append(
            f"pair_probe control: uncapped hot-hot pairs {unc_hot} != "
            f"C({n_hot},2)={expect_unc} -- hot bucket not quadratic, "
            "probe would not detect a cap regression"
        )
    if cap_hot > ceiling:
        violations.append(
            f"pair_probe: capped hot-hot pairs {cap_hot} > {ceiling}"
        )
    if cap_cover != n_hot:
        violations.append(
            f"pair_probe: star recall broken -- only {cap_cover} of "
            f"{n_hot} hot docs appear in the capped pair graph"
        )
    if cont_hot > ceiling:
        violations.append(
            f"pair_probe: anchor-capped hot-hot pairs {cont_hot} > {ceiling}"
        )
    return probe, violations


def _worst_stage(stages: list[eventlog.Stage]) -> dict | None:
    """The scenario's dominant shuffle stage: most records read in total.
    max/median over its per-task record counts is the straggler ratio."""
    best = None
    for stage in stages:
        live = [r for r in stage.records if r > 0]
        if len(live) < MIN_TASKS:
            continue
        total = sum(live)
        if best is None or total > best["records_total"]:
            best = {
                "stage_id": stage.stage_id,
                "n_tasks": len(live),
                "records_total": total,
                "records_max": max(live),
                "records_median": statistics.median(live),
            }
    if best:
        best["max_over_median"] = round(
            best["records_max"] / max(best["records_median"], 1), 2
        )
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    spark, log = eventlog.session("skew-stress", {
        "spark.sql.shuffle.partitions": "16",
        # at sf0.01 AQE coalesces every shuffle to ~1 task, which hides
        # the per-task distribution this harness exists to measure; at
        # scale partitions sit at the advisory size and never collapse
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # the at-scale emulation: dims too big to broadcast
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })
    from groove_to_helpscout_migration_tool_spark.operators import cache

    for name, run in _scenarios(spark, sf_dir).items():
        with cache.artifact_scope(spark, name):
            run()
    pair_probe, pair_violations = _pair_probe(spark, sf_dir)
    spark.stop()  # flush + finalize the event log

    groups = eventlog.parse(log)
    report: dict[str, dict] = {}
    for name in ("join_salted", "join_unsalted", "minhash_capped", "simhash_capped"):
        worst = _worst_stage(groups.get(name, eventlog.Group()).stages)
        report[name] = worst or {"error": "no shuffle stage recorded"}

    violations = []
    for name, bound in (
        ("join_salted", SALT_BOUND),
        ("minhash_capped", CAP_BOUND),
        ("simhash_capped", CAP_BOUND),
    ):
        ratio = report[name].get("max_over_median")
        if ratio is None:
            violations.append(f"{name}: no measurable stage")
        elif ratio > bound:
            violations.append(f"{name}: max/median {ratio} > {bound}")
    control = report["join_unsalted"].get("max_over_median")
    salted = report["join_salted"].get("max_over_median")
    if control is None:
        violations.append("join_unsalted: no measurable stage")
    else:
        # the control must show the pathology, or the harness is blind
        if control < CONTROL_MIN:
            violations.append(
                f"join_unsalted control not skewed enough ({control} < "
                f"{CONTROL_MIN}) -- measurement would not detect a regression"
            )
        if salted is not None and control <= salted:
            violations.append(
                f"control ratio {control} <= salted ratio {salted}"
            )

    violations.extend(pair_violations)
    result = {
        "sf_dir": sf_dir,
        "scenarios": report,
        "pair_probe": pair_probe,
        "violations": violations,
    }
    line = json.dumps(result, sort_keys=True)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
