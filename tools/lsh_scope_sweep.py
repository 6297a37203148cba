"""The measurement behind the r12 LSH small-N re-scope, as a
reproducible tool: sweep (bands x bits x probe-budget) configs of the
EXACT lsh_topk semantics (md5-derived +-1 hyperplanes, margin-ranked
multiprobe) in numpy against exact cosine truth, reporting recall@k and
CANDIDATE FRACTION per config.

Why this exists: hash certification proves lsh_topk computes its own
semantics; the recall harness (tools/ann_recall.py) measures the SHIPPED
config. Neither answers "could a different bit budget make LSH a real
index at scale?" -- this sweep does, and the measured answer on this
corpus geometry is NO: every config reaching >=0.9 recall needs a
>=0.42 candidate fraction, because the true top-5 cosines sit in the
sign-LSH noise band (0.32-0.48; per-bit agreement ~0.6 for a 0.35-cosine
pair, so 8+ exact bits destroy recall and the recall the shipped 2x6
config shows at sf10 is bucket saturation, not indexing). IVF/SQ8 are
the asserted scale paths (COVERAGE.md, RECALL_r12.json lsh_scope).

numpy-only (no Spark session): the semantics under test are the plane
signs, band keys, margin ranks, and probe patterns -- shared with the
Spark plan through the same md5 derivation and pattern algebra
(operators/similarity.HYPERPLANES would diverge only if DIM or the
hp-{k}-{i} seed scheme changed; _plane_signs below mirrors it
literally and the default probe set IS similarity.MARGIN_PATTERNS).

Usage: python tools/lsh_scope_sweep.py [sf_dir ...]
       (default: this checkout's testdata_sf1)
Env:   LSH_SCOPE_JSON=<path>   write results as JSON
       LSH_SCOPE_PANEL=<n>     query panel (default 200, = ann_recall)
       LSH_SCOPE_K=<k>         k (default 5)
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import sys
from collections import defaultdict

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from groove_to_helpscout_migration_tool_spark.operators.similarity import (
    MARGIN_PATTERNS,
)

DIM = 64

# (bands, bits_per_band, probe pattern set). "shipped" is the catalog
# config; pats_width(w) = all subsets of the w lowest-margin bits (a
# BIGGER budget than shipped for w >= 5 -- the sweep gives the
# alternatives every advantage and they still lose).
def _pats_width(w: int) -> list[tuple[int, ...]]:
    pats: list[tuple[int, ...]] = []
    for r in range(0, w + 1):
        pats += list(itertools.combinations(range(w), r))
    return pats


CONFIGS: list[tuple[str, int, int, list[tuple[int, ...]]]] = [
    ("shipped-2x6", 2, 6, MARGIN_PATTERNS),
    ("2x8", 2, 8, MARGIN_PATTERNS),
    ("2x8-w5", 2, 8, _pats_width(5)),
    ("2x8-w6", 2, 8, _pats_width(6)),
    ("2x10", 2, 10, MARGIN_PATTERNS),
    ("2x10-w6", 2, 10, _pats_width(6)),
    ("3x8", 3, 8, MARGIN_PATTERNS),
    ("4x8", 4, 8, MARGIN_PATTERNS),
    ("4x8-w5", 4, 8, _pats_width(5)),
    ("4x10-w6", 4, 10, _pats_width(6)),
]


def _plane_signs(n_planes: int) -> np.ndarray:
    """Mirror of similarity._plane_sign: +-1 from md5('hp-k-i')."""
    def sign(k: int, i: int) -> float:
        h = int(hashlib.md5(f"hp-{k}-{i}".encode()).hexdigest()[:15], 16)
        return 1.0 if h % 2 == 1 else -1.0

    return np.array(
        [[sign(k, i) for i in range(DIM)] for k in range(n_planes)]
    )


def sweep_config(V, nrm, cosq, nbands, bits, pats, panel, k):
    P = _plane_signs(nbands * bits)
    D = V @ P.T
    bitsm = D > 0
    pw = 1 << np.arange(bits)[::-1]
    buckets: dict[int, list[int]] = defaultdict(list)
    for b in range(nbands):
        keys = bitsm[:, b * bits : (b + 1) * bits] @ pw + (b << bits)
        for i, key in enumerate(keys):
            buckets[key].append(i)
    recs, fracs = [], []
    for q in range(panel):
        # deterministic truth order: (cosine DESC, nid ASC) -- the
        # lsh_topk / ann_recall tie-break (ADVICE r12: a bare unstable
        # argsort breaks rank-k ties arbitrarily, and the shipped-config
        # must-win assertion rides on a 0.007 margin at sf10)
        true_nb = set(
            np.lexsort((np.arange(cosq.shape[1]), -np.round(cosq[q], 9)))[
                :k
            ].tolist()
        )
        cand: set[int] = set()
        for b in range(nbands):
            seg = bitsm[q, b * bits : (b + 1) * bits]
            margins = np.abs(D[q, b * bits : (b + 1) * bits])
            # rank 0 = least-confident bit (same total order as
            # lsh_probe_frame: (margin, index) lexicographic)
            rank = np.argsort(np.argsort(margins, kind="stable"))
            for pat in pats:
                bb = seg.copy()
                for j in range(bits):
                    if rank[j] in pat:
                        bb[j] = ~bb[j]
                cand.update(buckets.get(bb @ pw + (b << bits), ()))
        cand.discard(q)
        recs.append(len(cand & true_nb) / k)
        fracs.append(len(cand) / len(V))
    recs_a = np.array(recs)
    return {
        "recall": round(float(recs_a.mean()), 4),
        "p10": round(float(np.percentile(recs_a, 10)), 3),
        "cand_frac": round(float(np.mean(fracs)), 4),
        "probes_per_band": len(pats),
    }


def main() -> None:
    dirs = sys.argv[1:] or [os.path.join(ROOT, "testdata_sf1")]
    panel = int(os.environ.get("LSH_SCOPE_PANEL", "200"))
    k = int(os.environ.get("LSH_SCOPE_K", "5"))
    out: dict[str, dict] = {}
    for sf_dir in dirs:
        con = duckdb.connect()
        rows = con.execute(
            f"select vec_id, embedding from"
            f" '{os.path.join(sf_dir, 'embeddings.parquet')}' order by vec_id"
        ).fetchall()
        V = np.array([r[1] for r in rows], dtype=np.float64)
        nrm = np.linalg.norm(V, axis=1)
        Q = V[:panel]
        cosq = (Q @ V.T) / (nrm[:panel, None] * nrm[None, :])
        for q in range(panel):
            cosq[q, q] = -2.0
        out[sf_dir] = {"n_vectors": len(V)}
        for name, nb, bits, pats in CONFIGS:
            r = sweep_config(V, nrm, cosq, nb, bits, pats, panel, k)
            out[sf_dir][name] = r
            print(f"{sf_dir} {name}: {r}", flush=True)
    # the scope claim this sweep backs: no config prunes below 0.42
    # candidate fraction while holding >= 0.9 recall
    pruning_winners = [
        (d, n)
        for d, cfgs in out.items()
        for n, r in cfgs.items()
        if isinstance(r, dict) and r.get("recall", 0) >= 0.9
        and r.get("cand_frac", 1) < 0.42
    ]
    out["pruning_winners"] = pruning_winners
    print("configs with recall>=0.9 AND cand_frac<0.42:", pruning_winners)
    path = os.environ.get("LSH_SCOPE_JSON")
    if path:
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
