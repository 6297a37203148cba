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

import glob
import json
import os
import re

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
# round. The order is derived from the official CORRECTNESS_r*.json rows
# and the CERTDIGEST.json ledger (tools/certage.py computes the digests;
# computing them here would cost every Python worker that imports the
# catalog a second), and strictly prioritizes verification debt:
#   block 0: never officially checked in any round
#   block 1: officially checked but red -- needs re-certification
#   block 2: green, but its code digest here differs from the one at the
#            commit its newest official round swept (a missing or stale
#            ledger entry counts as a difference) -- a regression here
#            must not evade the sweep
#   block 3: green and untouched, OLDEST certification first -- the
#            rotation that keeps every green within certage's MAX_AGE
#   block 4: green in the newest official round and untouched
# Within a block the tiebreak is (last_round, heavy), see key() below.

# Queries measured >= 2s in the full sf0.01 oracle sweep (Spark + DuckDB
# oracle side; r6 re-measure from the SELFCHECK_r06 run, in-sweep
# artifact reuse included). The r4-era members that fell OFF this list
# did so for real reasons: the table-driven Huffman decode + lazy frame
# sampling (mjpeg 10s -> 0.9s), signature-artifact reuse (simhash family
# sub-second), and the memoized image fixtures. The two warmup-inflated
# first-position entries (llm_repetition_stats, llm_quality_filter_c4 --
# sub-second warm in BENCH_DETAIL) are deliberately excluded.
# Kept by hand: no committed artifact records per-query sweep times.
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
    "llm_bpe_tokenize_apply",         # ~13s: both engines run the 6 rounds + doc join
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


_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_LEDGER = os.path.join(_ROOT, "CERTDIGEST.json")
_REGISTERED = list(QUERIES)  # registration order, the sort's last tiebreak


def _official_status() -> tuple[set[str], set[str], dict[str, int]]:
    """Scan CORRECTNESS_r*.json at the repo root.

    Returns (checked, green, last_round): names with any official row,
    names whose LATEST official row passed (hash_match true, or a
    rows-only row that produced rows without error), and the newest
    round number each name appeared in.
    """
    checked: set[str] = set()
    latest: dict[str, dict] = {}
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
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


def _read_ledger() -> dict[str, dict]:
    """CERTDIGEST.json; empty (every green counts as changed) if unreadable."""
    try:
        with open(_LEDGER) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _sweep_keys(ledger: dict[str, dict]) -> dict[str, tuple[int, int, int]]:
    """name -> (block, last_round, heavy) sort key under ``ledger``."""
    checked, green, last_round = _official_status()
    newest = max(last_round.values(), default=0)

    def block(name: str) -> int:
        if name not in checked:
            return 0
        if name not in green:
            return 1
        entry = ledger.get(name, {})
        if (entry.get("round") != last_round[name] or entry.get("green") is None
                or entry["green"] != entry.get("head")):
            return 2
        if last_round[name] < newest:
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

    return {name: key(name) for name in _REGISTERED}


def _apply_sweep_order() -> None:
    try:
        keys = _sweep_keys(_read_ledger())
    except Exception:
        return  # keep registration order if artifacts are unreadable
    reordered = {name: QUERIES[name] for name in sorted(_REGISTERED, key=keys.__getitem__)}
    QUERIES.clear()
    QUERIES.update(reordered)


_apply_sweep_order()
