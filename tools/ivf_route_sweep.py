"""Measure whether ANY per-query pre-hoc signal can route the IVF
recall-tail outliers to an exact path (VERDICT r12 task 3 asked for
cell-ranking-margin routing; this sweep tests that premise before
building it, the LSHSCOPE_r12 discipline).

Replicates the exact catalog quantizer semantics (min-vec_id-per-label
codebook, csim rounded to 9, (csim DESC, cid ASC) cell ranking,
nprobe=5 -- catalog/llm_ops.py llm_ann_ivf_topk) in numpy over the
standing snapshots, computes per-query recall@5 against the brute truth
(deterministic (cosine DESC, nid ASC) tie-break, the two_phase_topk
order), and evaluates three routing signals:

  - margin  : csim(rank 1) - csim(rank nprobe+1) -- the gap between the
              best cell and the first UNPROBED cell (the signal VERDICT
              r12 named: small gap => neighbors plausibly beyond the
              probe horizon);
  - boundary: csim(rank nprobe) - csim(rank nprobe+1) -- the gap AT the
              probe cut;
  - kth_ret : the k-th retrieved exact cosine after the probe (a
              result-aware signal: weak best-matches => don't trust the
              probe).

For each signal the sweep finds the minimal routed fraction that
catches EVERY query with recall < 0.4 (the min-floor offenders). A
signal is usable only if that fraction is small; routing half the panel
is not routing, it is running the exact path with extra steps.

Measured conclusion (committed as IVFROUTE_r13.json): NO signal
separates the offenders on this corpus geometry -- at sf10 margin needs
>=0.5 routed fraction and the offenders sit AT the panel median margin
(0.18-0.20 vs median 0.20); kth_ret distributions are so tight
(noise-band neighbors at every scale: the r12 diagnosis) that a
catching threshold routes 95-100% of the panel. The floor-carrying form
therefore cannot be routing; it must union an exact safety net over
EVERY query -- similarity.ivf_sq8_hybrid_topk does exactly that with
the int8 two-phase pool as the net (1 byte/dim scan bandwidth).

Usage: python tools/ivf_route_sweep.py [sf_dir ...]
       (default: sf0.1 of the shared test data, then this checkout's
       testdata_sf1 and testdata_sf10)
Env:   IVF_ROUTE_JSON=<path> (default: this checkout's IVFROUTE_r13.json)
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NPROBE = 5
K = 5
N_QUERIES = 200
LOW = 0.4  # the min-floor an offender violates


def load(sf_dir: str):
    con = duckdb.connect()
    rows = con.sql(
        f"select vec_id, label, embedding from '{sf_dir}/embeddings.parquet'"
        " order by vec_id"
    ).fetchnumpy()
    V = np.array([np.asarray(e, dtype=np.float64) for e in rows["embedding"]])
    return rows["vec_id"].astype(np.int64), np.asarray(rows["label"]), V


def cell_ranking(V, nrm, vid, lab):
    """(ranks, cell, csims_sorted): per-row cell ranking under the exact
    catalog quantizer -- min-vec_id-per-label centroids, csim rounded to
    9, ties broken by ascending cid (the struct (csim DESC, -cid DESC)
    sort in similarity._with_cell_ranking)."""
    cents: dict = {}
    for i in range(len(vid)):
        l = lab[i]
        if l not in cents or vid[i] < vid[cents[l]]:
            cents[l] = i
    cidx = np.array([cents[l] for l in sorted(cents)])
    cid = vid[cidx]
    order = np.argsort(cid)  # columns ascending by cid => stable sort
    cidx, cid = cidx[order], cid[order]
    C, cn = V[cidx], nrm[cidx]
    S = np.round((V @ C.T) / (nrm[:, None] * cn[None, :]), 9)
    ranks = np.argsort(-S, axis=1, kind="stable")  # ties -> lower cid
    srt = np.take_along_axis(S, ranks, axis=1)
    return cid[ranks], cid[ranks[:, 0]], srt


def main() -> None:
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        os.path.join(ROOT, "testdata_sf1"),
        os.path.join(ROOT, "testdata_sf10"),
    ]
    out_path = os.environ.get("IVF_ROUTE_JSON", os.path.join(ROOT, "IVFROUTE_r13.json"))
    snapshots: dict[str, dict] = {}
    for d in dirs:
        vid, lab, V = load(d)
        n = len(vid)
        nrm = np.sqrt((V * V).sum(1))
        ranked_cids, cell, csims = cell_ranking(V, nrm, vid, lab)
        q = np.arange(N_QUERIES)
        SQ = np.round((V[q] @ V.T) / (nrm[q][:, None] * nrm[None, :]), 6)
        rec = np.zeros(N_QUERIES)
        kth = np.zeros(N_QUERIES)
        for qi in range(N_QUERIES):
            s = SQ[qi].copy()
            s[qi] = -2.0
            # deterministic truth order: (cosine DESC, nid ASC)
            truth = set(np.lexsort((np.arange(n), -s))[:K].tolist())
            probed = set(ranked_cids[qi, :NPROBE].tolist())
            cand = np.flatnonzero(np.isin(cell, list(probed)))
            cand = cand[cand != qi]
            got = cand[np.lexsort((cand, -s[cand]))[:K]]
            rec[qi] = len(set(got.tolist()) & truth) / K
            kth[qi] = s[got[K - 1]] if len(got) >= K else -2.0
        signals = {
            "margin": csims[q, 0] - csims[q, NPROBE],
            "boundary": csims[q, NPROBE - 1] - csims[q, NPROBE],
            "kth_ret": kth,
        }
        offenders = np.flatnonzero(rec < LOW)
        sig_out = {}
        for name, vals in signals.items():
            # minimal threshold (route when signal < thr) catching every
            # offender, and the fraction of the panel it routes
            thr = float(vals[offenders].max()) + 1e-9 if len(offenders) else None
            routed = float((vals < thr).mean()) if thr is not None else 0.0
            sig_out[name] = {
                "offender_values": [round(float(v), 4) for v in vals[offenders]],
                "panel_median": round(float(np.median(vals)), 4),
                "panel_p10": round(float(np.percentile(vals, 10)), 4),
                "catch_all_threshold": round(thr, 4) if thr is not None else None,
                "routed_fraction_at_catch_all": round(routed, 3),
            }
            print(f"{d} {name}: routed_fraction_to_catch_all={routed:.3f}")
        snapshots[d] = {
            "n_vectors": int(n),
            "offender_queries": offenders.tolist(),
            "offender_recalls": [round(float(r), 2) for r in rec[offenders]],
            "mean_recall": round(float(rec.mean()), 4),
            "signals": sig_out,
        }
    # A signal is usable only if it catches the offenders cheaply at
    # EVERY snapshot -- a routing rule that works at sf0.1 but needs
    # half the panel at sf10 is not a scale path (and the catch-all
    # thresholds themselves drift with N, so no fixed rule exists).
    names = list(next(iter(snapshots.values()))["signals"])
    usable = any(
        max(
            s["signals"][name]["routed_fraction_at_catch_all"]
            for s in snapshots.values()
        )
        < 0.25
        for name in names
    )
    out = {
        "nprobe": NPROBE,
        "k": K,
        "panel": N_QUERIES,
        "low_floor": LOW,
        "snapshots": snapshots,
        "routing_signal_usable": usable,
        "conclusion": (
            "no pre-hoc or result-aware per-query signal separates the"
            " quantizer-resolution-bound recall-tail offenders from the"
            " panel on this corpus (offenders sit at the panel median"
            " margin; retrieved-cosine distributions are noise-band tight"
            " at every scale), so the min-recall floor is carried by an"
            " exact int8 safety net over every query"
            " (similarity.ivf_sq8_hybrid_topk), not by routing"
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {out_path}; routing_signal_usable={usable}")


if __name__ == "__main__":
    main()
