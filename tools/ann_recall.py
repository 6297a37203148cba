"""One ANN evaluation driver: every candidate generator of
operators/similarity.py, scored through the package's own operators on
the fixed query panel vec_id < PANEL (the same at every scale).

Every ANN top-k is a (qid, nid) candidate generator plus one exact
re-rank. Hash certification proves each plan computes its own
semantics, not its approximation quality, so per snapshot this tool
reports:

  - truth: similarity.brute_topk (llm_ann_topk_cosine's plan);
  - families: lsh_topk, ivf_topk (nprobe=5, llm_ann_ivf_topk's config),
    sq8_topk (identical to brute by design: a 1.0-recall control) and
    ivf_sq8_hybrid_topk (the floor-carrying IVF probe UNION int8 pool;
    it runs after ivf and sq8 so its legs reuse their build-once cell
    assignment and int8 corpus). Each runs twice: wall_build_s includes
    the artifact build, wall_s is the steady state the wall pins are
    about. Recall mean/p10/min come from the re-ranked output; cand_frac
    (the filter's cost) from one aggregate over the generator frame;
  - routing: the ivf signals a router to an exact path could use --
    margin (cell csim rank 1 minus rank nprobe+1) and boundary (rank
    nprobe minus rank nprobe+1) from _with_cell_ranking, and kth_ret
    (the rank-k cosine of the ivf output) -- with the panel fraction a
    threshold catching every offender (recall < LOW) routes; usable
    only below ROUTE_MAX at every snapshot;
  - lsh_scope: LSH_GEOMETRIES through similarity._lsh_candidates:
    candidate recall and fraction; one reaching PRUNE_RECALL below
    PRUNE_FRAC would be a pruning winner. They run last: each adds a
    plane matrix to the bounded dots-UDF memo, which must still hold the
    codebook the hybrid shares with ivf.

Floors per family per snapshot: mean >= FLOOR, p10 >= P10_FLOOR, min >=
MIN_FLOORS (plain ivf exempt: its tail is quantizer-resolution-bound and
no routing signal catches it, so the hybrid's int8 net carries the
floor). Wall pins at the largest snapshot: ivf and hybrid steady walls
<= IVF/HYBRID_WALL_RATIO_MAX x brute's. LSH, the small-N path, has none.

Usage: python tools/ann_recall.py OUT.json [sf_dir ...]
       (default: sf0.1 testdata, this checkout's testdata_sf1, _sf10)
Exits 1 when a floor or wall pin is violated.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from groove_to_helpscout_migration_tool_spark import get_session
from groove_to_helpscout_migration_tool_spark.operators import cache, similarity as SIM
from groove_to_helpscout_migration_tool_spark.session import load_tables

PANEL = 200            # queries vec_id < PANEL
K = 5
NPROBE = 5             # the catalog llm_ann_ivf_topk config
FLOOR = 0.7            # per-family MEAN recall@k floor
P10_FLOOR = 0.4        # per-family 10th-percentile per-query floor
LOW = 0.4              # a routing offender's recall is below this
IVF_WALL_RATIO_MAX = 0.5   # scale-path pin at the largest snapshot
HYBRID_WALL_RATIO_MAX = 0.75  # floor-carrying form must beat exact scan
ROUTE_MAX = 0.25       # a usable routing signal routes less than this
PRUNE_RECALL, PRUNE_FRAC = 0.9, 0.42
# Per-family MIN per-query floors. None == documented exemption.
MIN_FLOORS: dict[str, float | None] = {
    "lsh": 0.4,
    "ivf": None,
    "sq8": 0.4,
    "hybrid": 0.4,
}


def _pats_width(w: int) -> list[tuple[int, ...]]:
    """Every subset of the w lowest-margin bits: a bigger probe budget
    than the shipped patterns for w >= 5."""
    return [p for r in range(w + 1) for p in itertools.combinations(range(w), r)]


# (name, bands, bits per band, probe patterns); the first is lsh_topk's
LSH_GEOMETRIES: list[tuple[str, int, int, list[tuple[int, ...]]]] = [
    ("shipped-2x6", 2, 6, SIM.MARGIN_PATTERNS),
    ("2x8", 2, 8, SIM.MARGIN_PATTERNS),
    ("2x8-w5", 2, 8, _pats_width(5)),
    ("2x8-w6", 2, 8, _pats_width(6)),
    ("2x10", 2, 10, SIM.MARGIN_PATTERNS),
    ("2x10-w6", 2, 10, _pats_width(6)),
    ("3x8", 3, 8, SIM.MARGIN_PATTERNS),
    ("4x8", 4, 8, SIM.MARGIN_PATTERNS),
    ("4x8-w5", 4, 8, _pats_width(5)),
    ("4x10-w6", 4, 10, _pats_width(6)),
]


def p10(values: list[float]) -> float:
    """10th percentile, lower interpolation: an actual panel value."""
    return sorted(values)[int(0.10 * (len(values) - 1))]


def _timed(topk) -> tuple[dict[int, list[tuple[int, float]]], float]:
    """-> ({query_id: [(neighbor_id, cosine)] by rank}, wall seconds)."""
    t0 = time.time()
    rows = topk().select("query_id", "neighbor_id", "cosine", "rank").collect()
    wall = round(time.time() - t0, 2)
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    return out, wall


def _candidates(cand, truth_df, truth: dict[int, set], n_vec: int):
    """-> ({qid: candidate recall}, candidate fraction) of a generator
    frame, from one per-query aggregate over it."""
    rows = (
        cand.join(F.broadcast(truth_df), ["qid", "nid"], "left")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n"), F.count("hit").alias("hits"))
        .collect()
    )
    hits = {r["qid"]: r["hits"] for r in rows}
    rec = {q: hits.get(q, 0) / max(len(t), 1) for q, t in truth.items()}
    return rec, sum(r["n"] for r in rows) / (len(truth) * n_vec)


def _stats(per_q: dict[int, float]) -> tuple[float, float, float]:
    vals = list(per_q.values())
    return round(sum(vals) / len(vals), 4), round(p10(vals), 4), round(min(vals), 4)


def _routing(raw, emb, panel: int, ivf_top, ivf_recall: dict[int, float]) -> dict:
    """The ivf offenders (recall < LOW) and, per routing signal, the
    panel fraction a threshold catching all of them routes."""
    book = SIM.codebook(SIM.label_centroids(raw, emb))

    def csim(rank: int):
        return F.element_at(F.col("_csims"), rank)["csim"]

    rows = (
        SIM._with_cell_ranking(emb.filter(F.col("vec_id") < panel), book)
        .select(
            "vec_id",
            (csim(1) - csim(NPROBE + 1)).alias("margin"),
            (csim(NPROBE) - csim(NPROBE + 1)).alias("boundary"),
        )
        .collect()
    )
    qids = sorted(ivf_recall)
    signals = {
        "margin": {r["vec_id"]: r["margin"] for r in rows},
        "boundary": {r["vec_id"]: r["boundary"] for r in rows},
        "kth_ret": {
            q: ivf_top[q][K - 1][1] if len(ivf_top.get(q, [])) >= K else -2.0
            for q in qids
        },
    }
    offenders = [q for q in qids if ivf_recall[q] < LOW]
    out = {}
    for name, by_q in signals.items():
        vals = [by_q[q] for q in qids]
        thr = max(by_q[q] for q in offenders) + 1e-9 if offenders else None
        routed = sum(v < thr for v in vals) / len(vals) if offenders else 0.0
        out[name] = {
            "offender_values": [round(by_q[q], 4) for q in offenders],
            "panel_median": round(statistics.median(vals), 4),
            "panel_p10": round(p10(vals), 4),
            "catch_all_threshold": round(thr, 4) if offenders else None,
            "routed_fraction_at_catch_all": round(routed, 3),
        }
        print(f"  routing {name}: routed_fraction_to_catch_all={routed:.3f}", flush=True)
    return {
        "offender_queries": offenders,
        "offender_recalls": [round(ivf_recall[q], 2) for q in offenders],
        "signals": out,
    }


def snapshot(spark, sf_dir: str, panel: int = PANEL) -> tuple[dict, dict]:
    """Evaluate one snapshot -> (its artifact record, {family or
    geometry name: {qid: recall}}: the re-ranked recall of a family, the
    candidate recall of an LSH geometry)."""
    raw = load_tables(spark, sf_dir, ["embeddings"]).embeddings
    n_vec = raw.count()
    emb = SIM.prepared(raw)
    # the truth, with the build/steady pair the wall pins compare against
    _, build_brute = _timed(lambda: SIM.brute_topk(raw, K, panel))
    truth_top, wall_brute = _timed(lambda: SIM.brute_topk(raw, K, panel))
    builds, walls = {"brute": build_brute}, {"brute": wall_brute}
    truth = {q: {n for n, _ in top} for q, top in truth_top.items()}
    truth_df = spark.createDataFrame(
        [(q, n, True) for q, ns in truth.items() for n in ns],
        "qid bigint, nid bigint, hit boolean",
    )
    families = {
        "lsh": (
            lambda: SIM.lsh_topk(raw, k=K, query_max_id=panel),
            lambda: SIM._lsh_candidates(emb, panel),
        ),
        "ivf": (
            lambda: SIM.ivf_topk(raw, k=K, query_max_id=panel, nprobe=NPROBE),
            lambda: SIM._ivf_candidates(raw, emb, panel, NPROBE),
        ),
        "sq8": (
            lambda: SIM.sq8_topk(raw, k=K, query_max_id=panel),
            lambda: SIM._sq8_pool_candidates(emb, SIM.SQ8_POOL, panel),
        ),
        "hybrid": (
            lambda: SIM.ivf_sq8_hybrid_topk(raw, k=K, query_max_id=panel, nprobe=NPROBE),
            lambda: SIM._hybrid_candidates(raw, emb, panel, NPROBE, SIM.SQ8_POOL),
        ),
    }
    per_query: dict[str, dict[int, float]] = {}
    stats: dict[str, tuple[float, float, float]] = {}
    cand_frac: dict[str, float] = {}
    for fam, (topk, generator) in families.items():
        _, builds[fam] = _timed(topk)
        top, walls[fam] = _timed(topk)
        if fam == "ivf":
            ivf_top = top
        per_query[fam] = {
            q: len({n for n, _ in top.get(q, [])} & t) / max(len(t), 1)
            for q, t in truth.items()
        }
        stats[fam] = _stats(per_query[fam])
        cand_frac[fam] = round(_candidates(generator(), truth_df, truth, n_vec)[1], 4)
        print(
            f"{sf_dir} {fam}: recall@{K},p10,min={stats[fam]}"
            f" cand_frac={cand_frac[fam]} build={builds[fam]}s steady={walls[fam]}s",
            flush=True,
        )
    routing = _routing(raw, emb, panel, ivf_top, per_query["ivf"])
    lsh_scope = {}
    for name, bands, bits, pats in LSH_GEOMETRIES:
        rec, frac = _candidates(
            SIM._lsh_candidates(emb, panel, bands, bits, pats), truth_df, truth, n_vec
        )
        per_query[name] = rec
        mean, tail, _ = _stats(rec)
        lsh_scope[name] = {"recall": mean, "p10": tail, "cand_frac": round(frac, 4),
                           "probes_per_band": len(pats)}
        print(f"{sf_dir} lsh {name}: {lsh_scope[name]}", flush=True)
    record = {
        "n_vectors": n_vec,
        "recall": {f: s[0] for f, s in stats.items()},
        "p10_query_recall": {f: s[1] for f, s in stats.items()},
        "min_query_recall": {f: s[2] for f, s in stats.items()},
        "cand_frac": cand_frac,
        "wall_build_s": builds,
        "wall_s": walls,
        "wall_ratio_vs_brute": {
            f: round(walls[f] / max(walls["brute"], 1e-9), 3) for f in families
        },
        "routing": routing,
        "lsh_scope": lsh_scope,
    }
    return record, per_query


def _violations(sf_dir: str, snap: dict) -> list[str]:
    out = []
    for fam, mfloor in MIN_FLOORS.items():
        if snap["recall"][fam] < FLOOR:
            out.append(f"{sf_dir}:{fam}={snap['recall'][fam]}")
        if snap["p10_query_recall"][fam] < P10_FLOOR:
            out.append(f"{sf_dir}:{fam}:p10={snap['p10_query_recall'][fam]}")
        if mfloor is not None and snap["min_query_recall"][fam] < mfloor:
            out.append(f"{sf_dir}:{fam}:min={snap['min_query_recall'][fam]}")
    return out


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python tools/ann_recall.py OUT.json [sf_dir ...]")
    out_path = sys.argv[1]
    dirs = sys.argv[2:] or [
        "/root/testdata/sf0.1",
        os.path.join(ROOT, "testdata_sf1"),
        os.path.join(ROOT, "testdata_sf10"),
    ]
    spark = get_session()
    snapshots: dict[str, dict] = {}
    violations: list[str] = []
    for sf_dir in dirs:
        with cache.artifact_scope(spark, os.path.basename(sf_dir)):
            snapshots[sf_dir], _ = snapshot(spark, sf_dir)
        violations += _violations(sf_dir, snapshots[sf_dir])
    # scale-path pins: IVF must actually accelerate at the largest
    # scale, and the floor-carrying hybrid must beat the exact scan
    largest = max(snapshots, key=lambda d: snapshots[d]["n_vectors"])
    ratios = snapshots[largest]["wall_ratio_vs_brute"]
    if ratios["ivf"] > IVF_WALL_RATIO_MAX:
        violations.append(f"{largest}:ivf_wall_ratio={ratios['ivf']}")
    if ratios["hybrid"] > HYBRID_WALL_RATIO_MAX:
        violations.append(f"{largest}:hybrid_wall_ratio={ratios['hybrid']}")
    # the LSH build premium over brute's own build pays back at the
    # steady per-batch saving: premium <= 0 at once, saving <= 0 never
    lsh_break_even = {}
    for sf_dir, snap in snapshots.items():
        saving = snap["wall_s"]["brute"] - snap["wall_s"]["lsh"]
        premium = snap["wall_build_s"]["lsh"] - snap["wall_build_s"]["brute"]
        lsh_break_even[sf_dir] = (
            round(max(premium, 0.0) / saving, 1) if saving > 0 else None
        )
    routing_signal_usable = any(
        max(
            s["routing"]["signals"][name]["routed_fraction_at_catch_all"]
            for s in snapshots.values()
        )
        < ROUTE_MAX
        for name in ("margin", "boundary", "kth_ret")
    )
    pruning_winners = [
        [d, name]
        for d, s in snapshots.items()
        for name, r in s["lsh_scope"].items()
        if r["recall"] >= PRUNE_RECALL and r["cand_frac"] < PRUNE_FRAC
    ]
    out = {
        "panel": PANEL,
        "k": K,
        "floor": FLOOR,
        "p10_floor": P10_FLOOR,
        "min_floors": MIN_FLOORS,
        "min_floor_exemption": (
            "ivf: min is quantizer-resolution-bound (outlier queries'"
            " true top-5 are cross-cluster noise-band cosines spread"
            " uniformly over unprobed cells); the routing block"
            " (snapshots.*.routing) finds no per-query signal catching"
            f" them below a {ROUTE_MAX} routed fraction at every scale,"
            " so the min floor is carried by the hybrid family (exact"
            " int8 net over every query)"
        ),
        "ivf_wall_ratio_max": IVF_WALL_RATIO_MAX,
        "hybrid_wall_ratio_max": HYBRID_WALL_RATIO_MAX,
        "lsh_scope": (
            f"small-N path: the {len(LSH_GEOMETRIES)} lsh_scope geometries"
            " (bands x bits x probe budget) reach >=0.9 recall only at"
            " >=0.42 candidate fraction -- this corpus's true top-5"
            " cosines sit in the hyperplane noise band (0.32-0.48), so"
            " sign-LSH cannot prune it; IVF and SQ8 are the asserted scale"
            " paths (NOTES.md round 12)"
        ),
        "lsh_break_even_batches": lsh_break_even,
        "lsh_break_even_note": (
            "query batches (of panel size) needed before the LSH index"
            " build premium over the brute path's own build pays back at"
            " the steady-state per-batch saving; null = LSH steady is"
            " not faster than brute at that snapshot, so the index never"
            " pays back"
        ),
        "routing_signal_usable": routing_signal_usable,
        "pruning_winners": pruning_winners,
        "snapshots": snapshots,
        "floor_violations": violations,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(
        f"wrote {out_path}; violations: {violations};"
        f" routing_signal_usable={routing_signal_usable};"
        f" pruning_winners={pruning_winners}"
    )
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
