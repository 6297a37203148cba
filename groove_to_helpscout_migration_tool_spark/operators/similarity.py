"""Similarity search over embedding columns.

Every ANN top-k is a candidate generator plus ONE exact re-rank:
  - a generator emits (qid, nid) id pairs only:
      lsh_topk        -- query multiprobe keys x the LSH inverted lists
                         (_lsh_candidates);
      ivf_topk        -- cell_probe over label_centroids (optionally
                         Lloyd-refined by refined_centroids);
      ivf_probe_delta -- cell_probe of a delta batch against the base
                         corpus's sub-seed codebook;
      sq8_topk        -- the int8 pool cut (_sq8_pool_candidates);
      ivf_sq8_hybrid_topk / ivf_sq8_hybrid_delta -- a cell_probe leg
                         UNION the int8 pool (the exact safety net).
  - _rerank re-joins vectors for the surviving pairs and ranks them by
    exact rounded cosine through the salted two_phase_topk.
The brute-force baseline brute_topk (catalog: llm_ann_topk_cosine)
scores a bounded query matrix against the whole corpus
(scores_vs_query_matrix) and ranks through the same two_phase_topk. The
LSH hyperplanes are +-1 vectors derived from md5 bits at BUILD time (in
Python's hashlib, which matches SQL md5 byte-for-byte), dotted through
the IVF codebook's _centroid_dots_udf and inlined as literals into the
DuckDB oracle -- fully deterministic, no engine RNG.

Scale/perf design shared by all of them:
  - bucket/cell keys are tiny; the candidate self-join and its distinct
    shuffle (key, vec_id) pairs ONLY -- vectors are re-joined for just
    the surviving candidate ids. Never distinct() a row carrying two
    64-double arrays.
  - L2 norms are computed once per vector (attached by prepared()),
    because the higher-order-function dot product is interpreted, not
    codegen'd: halving the per-pair flops matters.
  - prepared() repartitions off the raw file layout: a small parquet
    arrives as one input split, and everything before the first shuffle
    would otherwise run on one core.
  - skewed buckets (dense regions) would be salted/capped at 100 TB;
    multiprobe widens recall without more hyperplanes.
"""

from __future__ import annotations

import hashlib
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .cache import persist_artifact
from .dedup import bucket_pairs, star_pairs

DIM = 64
N_PLANES = 12          # 2 bands x 6 hyperplanes
N_BANDS, BITS_PER_BAND = 2, 6
IVF_STRIDE = 37        # corpus vectors with vec_id % IVF_STRIDE == 0 = centroids


def _plane_sign(k: int, i: int) -> int:
    """Deterministic +-1 from md5('hp-k-i') -- identical to the SQL
    expression ('0x'||substr(md5('hp-k-i'),1,15))::BIGINT % 2."""
    h = int(hashlib.md5(f"hp-{k}-{i}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 1 else -1


HYPERPLANES: list[list[int]] = [
    [_plane_sign(k, i) for i in range(DIM)] for k in range(N_PLANES)
]


def _planes(n: int) -> np.ndarray:
    """The first ``n`` hyperplanes as an (n, DIM) matrix: every
    ``bands x bits`` geometry is a prefix of one sequence."""
    return np.array(
        [[_plane_sign(k, i) for i in range(DIM)] for k in range(n)], dtype=np.float64
    )


def _band_keys_from_dots(ds, bands: int, bits: int) -> "F.Column":
    """Band bucket keys ('b' + the band's sign bits) from a MATERIALIZED
    dots array column: element_at on a real column is evaluated once,
    unlike re-deriving each interpreted dot."""
    signs = [
        F.when(F.element_at(ds, k + 1) > 0, F.lit("1")).otherwise(F.lit("0"))
        for k in range(bands * bits)
    ]
    return F.array(
        *[
            F.concat_ws("", F.lit(str(b)), *signs[b * bits : (b + 1) * bits])
            for b in range(bands)
        ]
    )


def _margin_patterns() -> list[tuple[int, ...]]:
    """Query-directed probe patterns, expressed over margin RANKS within a
    band (rank 0 = the bit whose hyperplane dot product is closest to 0,
    i.e. the band's least-confident bit). Same 22-probes-per-band budget
    as a blind 1+2-bit-flip scheme, but the flips concentrate where sign
    errors actually happen: every subset of the 4 lowest-margin bits,
    plus the two high-margin singles and their pairings with the two
    lowest-margin bits."""
    from itertools import combinations

    pats: list[tuple[int, ...]] = [()]
    for r in (1, 2, 3, 4):
        pats += list(combinations(range(4), r))
    pats += [(4,), (5,), (0, 4), (1, 4), (0, 5), (1, 5)]
    return pats


MARGIN_PATTERNS: list[tuple[int, ...]] = _margin_patterns()


def lsh_probe_frame(
    emb: DataFrame,
    query_max_id: int,
    bands: int = N_BANDS,
    bits: int = BITS_PER_BAND,
    patterns: list[tuple[int, ...]] = MARGIN_PATTERNS,
) -> DataFrame:
    """-> (qid, bkey): query-side multiprobe keys, margin-ordered, for
    the ``bands x bits`` geometry (lsh_index's) and the ``patterns``
    flip set over margin ranks.

    One Arrow-batched mapInPandas stage: dots (dimension-axis sequential
    accumulation, bit-identical to the oracle's list_sum), bits, margins,
    per-band margin ranks, and the pattern flips all happen in
    Python per batch. An earlier version unrolled ranks + 2x44 probe keys
    as Catalyst expressions; the optimizer spent multiple SECONDS on the
    collapsed tree to then evaluate it over a handful of query rows.
    Query-side only -- cost is O(query rows), the corpus index keeps
    exact keys.
    """
    schema = T.StructType(
        [T.StructField("qid", T.LongType()), T.StructField("bkey", T.StringType())]
    )
    q = emb.select("vec_id", "v").filter(F.col("vec_id") < query_max_id)
    planes = _planes(bands * bits)
    band_ks = [list(range(b * bits, (b + 1) * bits)) for b in range(bands)]

    def gen(batches):
        for pdf in batches:
            out = {"qid": [], "bkey": []}
            if len(pdf):
                m = np.array(pdf["v"].tolist(), dtype=np.float64)
                acc = np.zeros((m.shape[0], planes.shape[0]))
                for i in range(m.shape[1]):
                    acc += m[:, i, None] * planes[None, :, i]
                for vec_id, dots in zip(pdf["vec_id"], acc):
                    signs = ["1" if d > 0 else "0" for d in dots]
                    flipped = ["0" if d > 0 else "1" for d in dots]
                    for b, band in enumerate(band_ks):
                        # margin rank: position in the (|dot|, k) total order,
                        # so ranks permute 0..bits-1 (rank 0 least confident)
                        order = sorted(band, key=lambda k: (abs(dots[k]), k))
                        rank = {k: r for r, k in enumerate(order)}
                        for pat in patterns:
                            out["qid"].append(int(vec_id))
                            out["bkey"].append(str(b) + "".join(
                                flipped[k] if rank[k] in pat else signs[k]
                                for k in band
                            ))
            yield pd.DataFrame(out, columns=["qid", "bkey"])

    return q.mapInPandas(gen, schema=schema)


def dot(a, b) -> "F.Column":
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


@pandas_udf(T.DoubleType())
def _pair_dot_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Pairwise dot product, Arrow-batched -- the candidate-scoring hot
    path. Same bit-exactness contract as _centroid_dots_udf: accumulate
    the dimension axis left-to-right so each float add matches the
    interpreted F.aggregate / DuckDB list_sum order exactly."""
    if len(a) == 0:
        return pd.Series([], dtype=float)
    ma = np.array(a.tolist(), dtype=np.float64)
    mb = np.array(b.tolist(), dtype=np.float64)
    acc = np.zeros(ma.shape[0])
    for i in range(ma.shape[1]):
        acc += ma[:, i] * mb[:, i]
    return pd.Series(acc)


def norm(a) -> "F.Column":
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> "F.Column":
    return dot(a, b) / (norm(a) * norm(b))


def prepared(embeddings: DataFrame) -> DataFrame:
    """(vec_id, v, nrm): cast + precomputed L2 norm, repartitioned off
    the file layout and persisted (every operator below reads it 2-3
    times). Float-op order of nrm is identical to cosine()'s norm, so
    dot/(nrm_a*nrm_b) is bit-identical to cosine(a, b) and to the DuckDB
    oracle's per-pair formula. At 100 TB this persist is the prepared
    embeddings table, written once per corpus snapshot."""
    return persist_artifact(
        embeddings.repartition(F.col("vec_id"))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", norm(F.col("v")))
    )


def _rejoin_cosine(cand: DataFrame, emb: DataFrame, left_id: str, right_id: str,
                   left_v: str, right_v: str) -> DataFrame:
    """Attach vectors+norms for candidate id pairs and score cosine
    (rounded to 6 so Spark/DuckDB float noise cannot flip order)."""
    li = emb.select(
        F.col("vec_id").alias(left_id), F.col("v").alias(left_v), F.col("nrm").alias("_na")
    )
    ri = emb.select(
        F.col("vec_id").alias(right_id), F.col("v").alias(right_v), F.col("nrm").alias("_nb")
    )
    return (
        cand.join(li, left_id)
        .join(ri, right_id)
        .withColumn("_dp", _pair_dot_batch(F.col(left_v), F.col(right_v)))
        .withColumn("cosine", F.round(F.col("_dp") / (F.col("_na") * F.col("_nb")), 6))
    )


def lsh_neardup_pairs(embeddings: DataFrame, threshold: float = 0.35) -> DataFrame:
    """-> (vec_i, vec_j, cosine): pairs sharing an LSH band bucket with
    exact cosine >= threshold. Candidates come from the uncapped
    dedup.bucket_pairs self-join over the bucket index."""
    emb = prepared(embeddings)
    # the persisted inverted-list index: without it the hyperplane-dot
    # UDF would run once per side of the self-join below
    cand = bucket_pairs(lsh_index(emb), "bkey", "vec_id")
    return (
        _rejoin_cosine(cand, emb, "i", "j", "v_i", "v_j")
        .filter(F.col("cosine") >= threshold)
        .select(F.col("i").alias("vec_i"), F.col("j").alias("vec_j"), "cosine")
    )


def semantic_dedup_assign(
    embeddings: DataFrame, threshold: float = 0.35
) -> DataFrame:
    """-> (vec_id, rep_id, cosine): star-shaped SEMANTIC dedup assignment
    -- each vector is tested against one anchor per LSH band bucket (the
    bucket's minimum vec_id, dedup.star_pairs) and assigned to its
    smallest verified anchor.

    The embedding twin of dedup.simhash_dedup_assign, and the scale path
    next to lsh_neardup_pairs: pair enumeration on a clustered corpus is
    quadratic in cluster size, while the dedup DECISION needs one link
    per duplicate. Candidates are O(N x N_BANDS) and output <= N rows no
    matter how clustered the corpus is; shuffles carry (bucket, id) and
    (id, id) pairs only, vectors re-join for candidates alone."""
    emb = prepared(embeddings)
    # the persisted inverted-list index: referenced twice (anchor agg +
    # candidate join) -- without it the hyperplane-dot UDF runs twice
    cand = (
        star_pairs(lsh_index(emb), "bkey", "vec_id")
        .select(F.col("j").alias("vec_id"), F.col("i").alias("anchor"))
        .distinct()
    )
    scored = _rejoin_cosine(cand, emb, "vec_id", "anchor", "qv", "av").filter(
        F.col("cosine") >= threshold
    )
    return scored.groupBy("vec_id").agg(
        F.min("anchor").alias("rep_id"),
        F.min_by("cosine", "anchor").alias("cosine"),
    )


def sql_hyperplane_literal(k: int) -> str:
    """DuckDB DOUBLE[] literal for hyperplane k (oracle mirror)."""
    return "[" + ", ".join(f"{float(s):.1f}" for s in HYPERPLANES[k]) + "]"


def lsh_index(
    emb: DataFrame, bands: int = N_BANDS, bits: int = BITS_PER_BAND
) -> DataFrame:
    """Persisted inverted-list index (vec_id, bkey) over the prepared
    corpus for the ``bands x bits`` plane geometry. The plane dots come
    from the memoized _centroid_dots_udf, so equal geometries give equal
    plans. Like prepared(), this is a build-once artifact: at 100 TB it
    is a bucketed table written per corpus snapshot and shared by every
    query batch, so its cost amortizes to ~zero per query. Locally the
    persist makes the steady state measurable (the CacheManager matches
    the canonicalized plan across calls in one session)."""
    dots = _centroid_dots_udf(_planes(bands * bits))
    return persist_artifact(
        emb.select("vec_id", dots("v").alias("ds")).select(
            "vec_id",
            F.explode(_band_keys_from_dots(F.col("ds"), bands, bits)).alias("bkey"),
        )
    )


def lsh_topk(embeddings: DataFrame, k: int = 5, query_max_id: int = 10) -> DataFrame:
    """ANN top-k via LSH inverted lists: candidates = corpus vectors
    sharing any band bucket with the query; exact cosine re-rank within
    the candidate set. Cost is proportional to bucket occupancy, not
    corpus size; recall comes from query-side margin-ordered multiprobe
    (lsh_probe_frame).

    SCOPE (r12, measurement-backed): the SMALL-N ANN path. On this
    corpus geometry the true top-5 cosines sit in the sign-LSH noise
    band (0.32-0.48), so every config with >=0.9 recall needs a >=0.42
    candidate fraction (the 10-geometry lsh_scope rows of
    tools/ann_recall.py over bands 2-4 x bits 6-10 x probe budgets
    22-64/band) -- the pinned artifact measures the sf10
    steady-state wall at ~0.64-0.68x brute across sessions
    (RECALL_r13.json wall_ratio_vs_brute; r12 measured 0.675), i.e.
    saturation, not indexing. For large corpora use ivf_topk
    (steady-state ~0.15-0.4x brute at sf10, wall-pinned in
    tools/ann_recall.py) or sq8_topk (exact, ~0.12-0.2x)."""
    emb = prepared(embeddings)
    return _rerank(_lsh_candidates(emb, query_max_id), emb, k)


def _lsh_candidates(
    emb: DataFrame,
    query_max_id: int,
    bands: int = N_BANDS,
    bits: int = BITS_PER_BAND,
    patterns: list[tuple[int, ...]] = MARGIN_PATTERNS,
) -> DataFrame:
    """(qid, nid) candidates of lsh_topk: the panel's multiprobe keys
    joined to the inverted lists of the same ``bands x bits`` geometry."""
    ex = lsh_index(emb, bands, bits)
    q = lsh_probe_frame(emb, query_max_id, bands, bits, patterns)
    return (
        q.join(ex.select(F.col("vec_id").alias("nid"), "bkey"), ["bkey"])
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid")
        .distinct()
    )


QUANT_SCALE = 1_000_000.0  # fixed-point scale for deterministic centroid means


def codebook(cents: DataFrame) -> list[tuple[int, list[float], float]]:
    """Collect the centroid set driver-side, sorted by cid -- the IVF
    CODEBOOK. Bounded by construction: C = the number of cells (tens to
    low thousands at any corpus size, a tuning constant independent of
    row count), the same artifact FAISS-style IVF holds in RAM on every
    search node. A codebook fetch, not a data collect."""
    rows = cents.select("cid", "cv", "cnrm").collect()
    return sorted(
        (int(r["cid"]), [float(x) for x in r["cv"]], float(r["cnrm"]))
        for r in rows
    )


_DOTS_UDF_CACHE: "OrderedDict" = OrderedDict()
# LRU bound (ADVICE r5): the memo is keyed by full codebook bytes, so a
# long-lived library session running ivf_topk over many corpora would
# otherwise accumulate one UDF closure + centroid matrix per distinct
# codebook forever. A few entries keep plan-identity for the common
# repeated-call case (the same corpus snapshot queried many times).
_DOTS_UDF_CACHE_MAX = 8
# (raised 4 -> 8 when scores_vs_query_matrix added the brute-scan query
# matrices -- ann/hard-negative anchors and kNN probes -- alongside the
# IVF codebooks; all are tens-of-rows matrices, so 8 closures is still
# a few MB at most.)


def _centroid_dots_udf(cmat: np.ndarray):
    """Arrow-batched dots of each row vector against every codebook
    centroid. Same bit-exactness contract as _plane_dots_batch: the
    accumulation loops the DIMENSION axis left-to-right, so each float
    add matches the interpreted F.aggregate / DuckDB list_sum order.

    MEMOIZED per codebook content (bounded LRU): Catalyst compares
    PythonUDF plan nodes by object identity of the serialized function,
    so a fresh UDF per call would make every ivf_topk invocation
    plan-unequal and defeat the CacheManager's reuse of the persisted
    cell assignment (identical plans -> the second call reads the cached
    artifact instead of recomputing the corpus scan)."""
    key = (cmat.shape, cmat.tobytes())
    cached = _DOTS_UDF_CACHE.get(key)
    if cached is not None:
        _DOTS_UDF_CACHE.move_to_end(key)
        return cached

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def _dots(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.array(vs.tolist(), dtype=np.float64)
        acc = np.zeros((m.shape[0], cmat.shape[0]))
        for i in range(m.shape[1]):
            acc += m[:, i, None] * cmat[None, :, i]
        return pd.Series(list(acc))

    _DOTS_UDF_CACHE[key] = _dots
    while len(_DOTS_UDF_CACHE) > _DOTS_UDF_CACHE_MAX:
        _DOTS_UDF_CACHE.popitem(last=False)
    return _dots


def scores_vs_query_matrix(
    corpus: DataFrame,
    q: DataFrame,
    extras: tuple[str, ...] = (),
    digits: int = 6,
) -> DataFrame:
    """Score every corpus row against a BOUNDED query set without a
    per-pair join: collect the query frame driver-side (a codebook-style
    fetch -- the anchor/probe set is tens of rows by contract, exactly
    the bounded-collect class as codebook()), compute each corpus row's
    dots against the whole query matrix in ONE Arrow stage
    (_centroid_dots_udf: dimension-axis left-to-right accumulation,
    bit-identical to the interpreted F.aggregate/zip_with fold and to
    DuckDB's list_sum), then posexplode to one (qid, cosine) row per
    (corpus row, query) with query ids / norms / `extras` attached from
    literal arrays. Replaces the interpreted per-pair higher-order dot
    inside a BroadcastNestedLoopJoin: same floats and the same
    n_corpus x n_queries row count, but one vectorized numpy pass per
    Arrow batch instead of n_queries interpreted 64-element folds per
    corpus row (NOTES: higher-order functions are interpreted and never
    CSE'd -- this was the brute-scan hot path).

    corpus: (..., v array<double>, norm double); q: (qid, qv, qnorm,
    *extras). cosine = round(dot / (qnorm * norm), digits), the exact
    expression the certified per-pair path used. Returns the corpus
    columns minus `v`, plus (qid bigint, *extras, cosine double).
    Empty query set -> empty result with the same schema (totality on
    the empty corpus, where both sides are empty)."""
    rows = sorted(
        q.select("qid", "qv", "qnorm", *extras).collect(),
        key=lambda r: r["qid"],
    )
    if len(rows) > 4096:
        # the bounded-collect contract, enforced loudly: a caller that
        # feeds an unbounded query frame gets a clear error here, not a
        # silent driver OOM at 100 TB. Above this size the right tool
        # is the LSH/IVF index path, not a brute matrix scan.
        raise ValueError(
            f"scores_vs_query_matrix: query set has {len(rows)} rows; the"
            " brute query-matrix scan is for BOUNDED (codebook-sized)"
            " query sets -- use the LSH/IVF paths for large query sides"
        )
    base = corpus.drop("v")
    extra_types = {f.name: f.dataType for f in q.schema.fields}
    if not rows:
        return base.select(
            "*",
            F.lit(None).cast("bigint").alias("qid"),
            *[F.lit(None).cast(extra_types[c]).alias(c) for c in extras],
            F.lit(None).cast("double").alias("cosine"),
        ).filter(F.lit(False))
    qmat = np.array([[float(x) for x in r["qv"]] for r in rows], dtype=np.float64)
    dots = _centroid_dots_udf(qmat)
    qids = F.lit([int(r["qid"]) for r in rows])
    qnorms = F.lit([float(r["qnorm"]) for r in rows])
    extra_lits = {
        c: F.lit([r[c] for r in rows]).cast(T.ArrayType(extra_types[c]))
        for c in extras
    }
    i1 = F.col("_qi") + F.lit(1)
    return (
        corpus.withColumn("_qd", dots(F.col("v")))
        .drop("v")
        .select("*", F.posexplode("_qd").alias("_qi", "_qdot"))
        .select(
            *base.columns,
            F.element_at(qids, i1).cast("bigint").alias("qid"),
            *[F.element_at(extra_lits[c], i1).alias(c) for c in extras],
            F.round(
                F.col("_qdot") / (F.element_at(qnorms, i1) * F.col("norm")),
                digits,
            ).alias("cosine"),
        )
    )


def two_phase_topk(
    scored: DataFrame,
    qid: str,
    k: int,
    salt_mod: int,
    label_col: str | None = None,
    *,
    bounded_input: bool = False,
) -> DataFrame:
    """Per-``qid`` deterministic top-k WITHOUT a corpus-wide window
    partition: phase 1 takes a partial top-k per (qid, salt) hash
    aggregation group (map-side combining bounds every group), phase 2
    merges <= salt_mod * k candidate rows per query. Sort key is
    struct(cosine DESC, nid ASC) via the (cos, -nid, nid) struct idiom;
    cosine must be PRE-ROUNDED so engine float noise cannot flip the
    order. Returns (qid, rank bigint, nid, cosine[, label_col]).

    The ONE implementation of the salted top-k -- the mining ops (hard
    negatives, kNN vote, IVF negatives), the brute ANN baseline, the
    sq8 pool cut and every ANN re-rank (_rerank) all rank through here,
    so a tie-break or salt fix reaches every consumer at once.

    ``bounded_input=True`` skips the salted phase 1 and runs the
    phase-2 merge directly: ONLY for inputs whose per-``qid`` row count
    is already bounded by a CONSTANT upstream (e.g. sq8_topk's final
    re-rank reads the <= pool rows/query its own pool cut just
    emitted). The merge aggregate is then exactly phase 2 over the same
    rows -- per-group state bounded by that constant, one exchange
    instead of two, and the result is bit-identical because the salted
    form's slice(sort_array(concat of per-salt top-k)) equals the
    direct slice(sort_array(all rows)) under the total (cos DESC, nid
    ASC) order. A corpus-sized input must NEVER pass bounded_input: the
    salt is what keeps a hot query's group from collecting the corpus."""
    fields = [
        F.col("cosine").alias("cos"),
        (-F.col("nid")).alias("nnid"),
        F.col("nid").alias("nid"),
    ]
    if label_col is not None:
        fields.append(F.col(label_col).alias(label_col))
    s = F.struct(*fields)
    if bounded_input:
        merged = scored.groupBy(qid).agg(
            F.slice(F.sort_array(F.collect_list(s), asc=False), 1, k).alias("top")
        )
    else:
        phase1 = (
            scored.withColumn("_salt", F.pmod(F.col("nid"), F.lit(salt_mod)))
            .groupBy(qid, "_salt")
            .agg(
                F.slice(F.sort_array(F.collect_list(s), asc=False), 1, k).alias("top")
            )
        )
        merged = (
            phase1.select(qid, F.explode("top").alias("s"))
            .groupBy(qid)
            .agg(
                F.slice(F.sort_array(F.collect_list("s"), asc=False), 1, k).alias(
                    "top"
                )
            )
        )
    out = [
        qid,
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        F.col("s.nid").alias("nid"),
        F.col("s.cos").alias("cosine"),
    ]
    if label_col is not None:
        out.append(F.col(f"s.{label_col}").alias(label_col))
    return merged.select(
        qid, F.posexplode("top").alias("pos", "s")
    ).select(*out)


def _rerank(
    cand: DataFrame, emb: DataFrame, k: int, *, bounded_input: bool = False
) -> DataFrame:
    """(qid, nid) candidates -> (query_id, neighbor_id, cosine, rank
    int): the ONE exact re-rank every ANN top-k ends in. Vectors and
    norms re-join for the candidate ids alone (_rejoin_cosine, cosine
    pre-rounded to 6) and the salted two_phase_topk ranks by (cosine
    DESC, nid ASC) -- a total order, so the plan needs no per-query
    window. ``bounded_input`` is two_phase_topk's flag, passed through:
    only for candidates already cut to a constant count per qid."""
    ranked = two_phase_topk(
        _rejoin_cosine(cand, emb, "qid", "nid", "qv", "nv"),
        "qid",
        k,
        SQ8_SALT,
        bounded_input=bounded_input,
    )
    return ranked.select(
        F.col("qid").alias("query_id"),
        F.col("nid").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


def brute_topk(embeddings: DataFrame, k: int = 5, query_max_id: int = 10) -> DataFrame:
    """Exact cosine top-k of the panel vec_id < ``query_max_id``: one
    Arrow stage scores the corpus against the collected query matrix
    (scores_vs_query_matrix), the salted two_phase_topk ranks it. The
    truth every ANN family is measured against."""
    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("norm", norm(F.col("v")))
    q = emb.filter(F.col("vec_id") < query_max_id).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    scored = (
        scores_vs_query_matrix(emb, q)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"), "cosine")
    )
    return two_phase_topk(scored, "qid", k, SQ8_SALT).select(
        F.col("qid").alias("query_id"),
        F.col("nid").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


def _with_cell_ranking(rows: DataFrame, book) -> DataFrame:
    """rows + `_csims`: per-row array of (csim, -cid) structs sorted
    best-first -- (desc cosine, asc cid), WITHOUT an N x C exchange: the
    dots arrive from one Arrow stage against the in-closure codebook
    and the C-way rank is a per-row sort_array, all map-side. csim
    keeps the exact expression shape of the oracle (round to 9 of
    dot / (nrm * cnrm), dots accumulated dimension-first).

    Plan size is O(1) in the codebook size C (ADVICE r5): the cnrm and
    -cid codebook columns enter the plan as two single array-LITERAL
    nodes and the struct array is built by one transform over the dots
    column, instead of C unrolled struct expressions whose codegen grows
    linearly with C and risks the JVM method-size fallback at the 'low
    thousands of cells' a production codebook reaches. transform is
    interpreted (all higher-order functions are), but so was the
    unrolled CreateArray once codegen fell back -- and the per-element
    work here is one divide + round + two literal-array lookups."""
    dots = _centroid_dots_udf(
        np.array([cv for _, cv, _ in book], dtype=np.float64)
    )
    cnrms = F.lit([float(cnrm) for _, _cv, cnrm in book])
    ncids = F.lit([int(-cid) for cid, _cv, _ in book])
    rows = rows.withColumn("_cd", dots(F.col("v")))
    ranked = F.sort_array(
        F.transform(
            F.col("_cd"),
            lambda cd, i: F.struct(
                F.round(
                    cd / (F.col("nrm") * F.element_at(cnrms, i + F.lit(1))), 9
                ).alias("csim"),
                F.element_at(ncids, i + F.lit(1)).cast("long").alias("ncid"),
            ),
        ),
        asc=False,
    )
    return rows.withColumn("_csims", ranked).drop("_cd")


def assign_cells(emb: DataFrame, book) -> DataFrame:
    """(vec_id, cell, csim): nearest-centroid assignment against a
    codebook (see codebook()), argmax cosine with deterministic rounding
    + cid tie-break; csim is the winning centroid's rounded cosine."""
    best = F.element_at(F.col("_csims"), 1)
    return _with_cell_ranking(emb, book).select(
        "vec_id", (-best["ncid"]).alias("cell"), best["csim"].alias("csim")
    )


def _rep_centroids(emb: DataFrame, reps: DataFrame) -> DataFrame:
    """(cid, cv, cnrm): the prepared vectors of the representative ids
    ``reps.rep_id`` -- a codebook-sized broadcast join."""
    return emb.join(
        F.broadcast(reps.select(F.col("rep_id").alias("vec_id"))), "vec_id"
    ).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )


def label_centroids(embeddings: DataFrame, emb: DataFrame) -> DataFrame:
    """(cid, cv, cnrm): the deterministic IVF coarse quantizer over the
    raw ``embeddings`` and their prepared() frame ``emb`` -- one
    representative vector per corpus cluster (min vec_id per ``label``,
    the stand-in for an offline-trained k-means codebook, which is how
    IVF centroids are produced in production; vec_id % IVF_STRIDE == 0
    when no label column exists). Deterministic selection lets the
    DuckDB oracles mirror the quantizer exactly."""
    if "label" not in embeddings.columns:
        return emb.filter(F.col("vec_id") % IVF_STRIDE == 0).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
        )
    reps = embeddings.groupBy("label").agg(F.min("vec_id").alias("rep_id"))
    return _rep_centroids(emb, reps)


def cell_probe(
    base: DataFrame, queries: DataFrame, cents: DataFrame, nprobe: int
) -> DataFrame:
    """(qid, nid) IVF candidates: each ``queries`` row probes its
    ``nprobe`` nearest cells of the ``cents`` codebook and takes every
    other ``base`` vector assigned there (both frames prepared()).

    The codebook is fetched once and ranks both sides map-side (one
    Arrow dots stage + a per-row C-way sort, NO N x C crossJoin and NO
    per-vec_id window exchange). The base assignment runs ONCE and is
    persisted -- the build-once cell assignment, at 100 TB a
    bucketed-by-cell table written per corpus snapshot -- so a query
    batch costs cell occupancy, not corpus size. Candidates travel as
    ids only; vectors re-join at scoring time."""
    book = codebook(cents)
    assigned = persist_artifact(assign_cells(base, book))
    probes = (
        _with_cell_ranking(queries, book)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(F.slice(F.col("_csims"), 1, nprobe)).alias("_s"),
        )
        .select("qid", (-F.col("_s")["ncid"]).alias("cell"))
    )
    return (
        probes.join(assigned, ["cell"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"))
        .distinct()
    )


def refined_centroids(emb: DataFrame, cents: DataFrame, n_iter: int) -> DataFrame:
    """Lloyd k-means refinement of an initial centroid set, fully
    DETERMINISTIC and oracle-mirrorable: member components are quantized
    to fixed-point BIGINTs (floor(x * 1e6 + 0.5)) before summation, so
    the per-cell mean is an INTEGER sum divided once -- order-independent
    and bit-identical across engines, unlike a float avg whose value
    depends on partition order. Cosine is scale-invariant, so the means
    are not re-normalized (spherical k-means without the projection).
    Cells that lose every member disappear (join semantics both sides)."""
    for _ in range(n_iter):
        assigned = assign_cells(emb, codebook(cents))
        members = emb.join(assigned, "vec_id")
        sums = (
            members.select("cell", F.posexplode(F.col("v")).alias("i0", "x"))
            .select(
                "cell",
                (F.col("i0") + 1).alias("i"),
                F.floor(F.col("x") * F.lit(QUANT_SCALE) + F.lit(0.5)).alias("q"),
            )
            .groupBy("cell", "i")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        comp = (F.col("s").cast("double") / F.col("n") / F.lit(QUANT_SCALE)).alias("c")
        cents = (
            sums.select("cell", "i", comp)
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "c"))),
                    lambda st: st["c"],
                ).alias("cv")
            )
            .select(F.col("cell").alias("cid"), "cv", norm(F.col("cv")).alias("cnrm"))
        )
    return cents


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    query_max_id: int = 10,
    nprobe: int = 2,
    kmeans_iters: int = 0,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization: every corpus
    vector is assigned to its nearest centroid cell (label_centroids,
    optionally refined by ``kmeans_iters`` Lloyd rounds); a query probes
    only its ``nprobe`` nearest cells (cell_probe) and exact-re-ranks
    the candidates. Queries touch nprobe cells -- cost scales with cell
    occupancy, not corpus size."""
    emb = prepared(embeddings)
    cand = _ivf_candidates(embeddings, emb, query_max_id, nprobe, kmeans_iters)
    return _rerank(cand, emb, k)


def _ivf_candidates(
    embeddings: DataFrame,
    emb: DataFrame,
    query_max_id: int,
    nprobe: int,
    kmeans_iters: int = 0,
) -> DataFrame:
    """(qid, nid) candidates of ivf_topk's probe for the fixed query
    panel vec_id < query_max_id (also the hybrid's IVF leg)."""
    cents = label_centroids(embeddings, emb)
    if kmeans_iters > 0:
        cents = persist_artifact(refined_centroids(emb, cents, kmeans_iters))
    return cell_probe(
        emb, emb.filter(F.col("vec_id") < query_max_id), cents, nprobe
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (SQ8 / int8) ANN: quantized scan + exact re-rank
# ---------------------------------------------------------------------------
SQ8_POOL = 50  # candidate pool per query fed to the exact re-rank
SQ8_SALT = 8   # two_phase_topk salt width (matches the brute ANN path)


def sq8_corpus(emb: DataFrame) -> DataFrame:
    """(vec_id, q8, qs): per-vector symmetric int8 quantization of the
    prepared corpus -- q8[i] = round(v[i] * 127 / max|v|), the FAISS
    SQ8 layout. The scan artifact is 1 byte/dim instead of 8 (4 against
    the float32 source): at 100 TB this is the 4x scan-bandwidth and
    cache-footprint win that makes the first ANN pass cheap, and like
    prepared() it is a build-once table written per corpus snapshot."""
    maxabs = F.array_max(F.transform(F.col("v"), F.abs))
    scale = F.lit(127.0) / F.greatest(maxabs, F.lit(1e-30))
    return persist_artifact(
        emb.select(
            "vec_id",
            F.transform(F.col("v"), lambda x: F.round(x * scale).cast("tinyint")).alias("q8"),
            scale.alias("qs"),
        )
    )


@pandas_udf(T.LongType())
def _pair_dot_batch_sq8(a: pd.Series, b: pd.Series) -> pd.Series:
    """Integer dot product of two int8 vectors, Arrow-batched. Unlike
    _pair_dot_batch there is NO float-order contract here: the result
    only ranks candidates for the pool, and integer addition is exact
    and order-free. int32 accumulate (|dot| <= dim * 127^2 << 2^31)."""
    if len(a) == 0:
        return pd.Series([], dtype="int64")
    ma = np.array(a.tolist(), dtype=np.int32)
    mb = np.array(b.tolist(), dtype=np.int32)
    return pd.Series(np.einsum("ij,ij->i", ma, mb).astype(np.int64))


def sq8_topk(
    embeddings: DataFrame, k: int = 5, pool: int = SQ8_POOL, query_max_id: int = 10
) -> DataFrame:
    """ANN top-k with a scalar-quantized first pass: scan the int8
    corpus against the (broadcast) int8 query set, keep the top `pool`
    candidates per query by approximate cosine via the salted
    two_phase_topk (never a corpus-wide per-query window), then
    exact-re-rank the pool with the float path shared by every other
    ANN operator (so the emitted cosines/order are bit-identical to the
    brute-force oracle). The whole plan is Window-free (audit-enforced).

    Exactness contract: the output EQUALS brute force whenever the true
    top-k survives the pool cut. SQ8's relative dot error is ~0.4%
    (half-ulp of 1/127 per component) while pool/k = 10x, so the pool
    cut is recall-1.0 by a wide margin on any non-adversarial corpus;
    tests/test_curation_ops.py pins pool-recall at both smoke SFs.
    At 100 TB the approximate pass reads 1/4 the bytes of a float scan
    and the exact pass touches only pool * n_queries vectors."""
    emb = prepared(embeddings)
    # bounded_input: the pool cut emits <= pool rows per qid BY
    # CONSTRUCTION, so the re-rank's merge aggregate is already
    # constant-bounded and the salted phase 1 would only add an
    # exchange (the hybrids keep the salted form: their IVF legs are
    # cell-sized, not constant-bounded)
    return _rerank(
        _sq8_pool_candidates(emb, pool, query_max_id), emb, k, bounded_input=True
    )


def _sq8_pool_candidates(
    emb: DataFrame,
    pool: int,
    query_max_id: int | None = None,
    *,
    query_cond=None,
    corpus_cond=None,
) -> DataFrame:
    """(qid, nid) candidate pairs from the int8 approximate pass: the
    pool cut of sq8_topk and the exact safety net the IVF hybrids union
    in. The query side is either ``vec_id < query_max_id`` (the
    fixed-panel form) or an arbitrary ``query_cond`` (the delta form),
    and ``corpus_cond`` restricts the scanned side (e.g. the base
    corpus in the incremental path)."""
    qc = sq8_corpus(emb)
    if query_cond is None:
        query_cond = F.col("vec_id") < query_max_id
    q = qc.filter(query_cond).select(
        F.col("vec_id").alias("qid"),
        F.col("q8").alias("qq8"),
        F.col("qs").alias("qqs"),
    )
    corpus = qc if corpus_cond is None else qc.filter(corpus_cond)
    # approx cosine = int_dot / (scale_a*scale_b) / (|a||b|); norms come
    # from the prepared corpus (already computed once per snapshot).
    nrms = emb.select("vec_id", "nrm")
    qn = nrms.select(F.col("vec_id").alias("qid"), F.col("nrm").alias("qnrm"))
    scored = (
        corpus.join(nrms, ["vec_id"])
        .crossJoin(F.broadcast(q.join(qn, ["qid"])))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            (
                _pair_dot_batch_sq8(F.col("qq8"), F.col("q8")).cast("double")
                / (F.col("qqs") * F.col("qs") * F.col("qnrm") * F.col("nrm"))
            ).alias("acos"),
        )
    )
    # Pool cut through the shared salted two-phase top-k: a per-qid
    # window would hash-exchange all N x Q scored rows into exactly Q
    # partitions and sort the whole corpus inside each query's single
    # task. two_phase_topk bounds every (qid, salt) group map-side and
    # merges <= SQ8_SALT * pool rows per query. acos needs no
    # pre-rounding here: the int8 dot is exact and order-free and the
    # scale division is one fixed per-row expression, so every row's
    # acos is bit-stable under any partitioning.
    return two_phase_topk(
        scored.select("qid", "nid", F.col("acos").alias("cosine")),
        "qid",
        pool,
        SQ8_SALT,
    ).select("qid", "nid")


def ivf_sq8_hybrid_topk(
    embeddings: DataFrame,
    k: int = 5,
    query_max_id: int = 10,
    nprobe: int = 5,
    pool: int = SQ8_POOL,
) -> DataFrame:
    """Floor-carrying ANN (VERDICT r12 task 3): per-query candidates =
    the IVF probe's candidates UNION the global int8 two-phase pool,
    one shared exact re-rank. nprobe=5 is the certified catalog IVF
    config (llm_ann_ivf_topk).

    Why a union over EVERY query and not margin routing: the routing
    block of tools/ann_recall.py (IVFROUTE_r13.json) scores the probe
    margin, the probe-boundary gap and the k-th retrieved cosine against
    the recall-tail offenders, and at sf0.1/sf1/sf10 none catches them
    below a 0.25 routed fraction (at sf10 they sit AT the panel median
    margin). The offenders are quantizer-resolution-bound (their true
    top-5 are cross-cluster noise-band cosines spread over unprobed
    cells -- NOTES.md round 12), so the floor needs an exact net on every
    query; the cheapest is the int8 pool (1 byte/dim, pool-survival
    recall 1.0 at every snapshot), giving min-recall >= the net's pool
    survival by construction -- asserted >= 0.4 per snapshot in
    tools/ann_recall.py.

    At 100 TB: the IVF leg serves the clustered mass at sublinear cost;
    the net leg is one quantized linear scan at a quarter of the float
    bandwidth -- the price of a per-query guarantee on a corpus whose
    tail is provably invisible to the quantizer. Plan: Window-free, no
    cartesian (the query side broadcasts in both legs), candidates
    deduped by one (qid, nid) hash aggregate."""
    emb = prepared(embeddings)
    return _rerank(
        _hybrid_candidates(embeddings, emb, query_max_id, nprobe, pool), emb, k
    )


def _hybrid_candidates(
    embeddings: DataFrame, emb: DataFrame, query_max_id: int, nprobe: int, pool: int
) -> DataFrame:
    """(qid, nid) candidates of ivf_sq8_hybrid_topk: the IVF probe leg
    UNION the int8 pool, deduplicated."""
    return (
        _ivf_candidates(embeddings, emb, query_max_id, nprobe)
        .unionByName(_sq8_pool_candidates(emb, pool, query_max_id))
        .distinct()
    )


def ivf_probe_delta(
    embeddings: DataFrame,
    k: int = 5,
    delta_mod: int = 20,
    nprobe: int = 3,
    cell_target: int = 200,
) -> DataFrame:
    """Incremental ANN: a newly-arrived DELTA batch (vec_id % delta_mod
    == 0, the corpus_ops DELTA_MOD convention) probes the STANDING IVF
    index built from the base corpus only -- the living-dataset path
    where per-batch cost scales with the delta, not the corpus. The
    base assignment (cell per base vector) is the build-once artifact a
    snapshot pipeline materializes. The coarse quantizer GROWS WITH THE
    CORPUS the way a production IVF does (C ~ N / target_cell_size, so
    cell width -- and per-probe cost -- stays ~constant): each of the
    10 synthetic labels is split into S = max(1, n_base // (10 *
    cell_target)) deterministic sub-seed groups (vec_id % S), and each
    group's min base vec_id is a centroid. At the certification SFs
    (n_base <= 2000) S == 1, reducing exactly to the original
    min-per-label codebook; at the generated sf1/sf10 snapshots C grows
    to ~100/~1000 keeping candidates per query bounded (the r9 decade-3
    run of the PINNED quantizer measured the alternative: width grows
    with N, 10k deltas x 20k-wide cells = a 400M-row candidate sort
    that spilled past local disk). n_base comes from one pruned-scan
    count -- an index-BUILD action, same offline class as the codebook
    collect. Delta vectors probe the base's cells through cell_probe
    (same zero-N-x-C shape as ivf_topk) and exact-re-rank the
    candidates; its self-hit filter never drops a row here, since the
    delta is disjoint from the base by construction. The oracle mirrors
    the quantizer exactly (GROUP BY label, vec_id % S with S from the
    same count)."""
    emb = prepared(embeddings)
    cand = _ivf_delta_candidates(embeddings, emb, delta_mod, nprobe, cell_target)
    return _rerank(cand, emb, k)


def _ivf_delta_candidates(
    embeddings: DataFrame,
    emb: DataFrame,
    delta_mod: int,
    nprobe: int,
    cell_target: int,
    query_cap: int | None = None,
) -> DataFrame:
    """(qid, nid) candidates of ivf_probe_delta's probe (also the
    incremental hybrid's IVF leg). ``query_cap`` additionally bounds
    the delta query panel (vec_id < cap) for certification-cost
    reasons -- the RAG_QUERY_CAP precedent; None = the full delta."""
    is_delta = F.col("vec_id") % delta_mod == 0
    base = emb.filter(~is_delta)
    dq = emb.filter(is_delta)
    if query_cap is not None:
        dq = dq.filter(F.col("vec_id") < query_cap)
    raw_base = embeddings.filter(~is_delta)
    n_base = raw_base.select("vec_id").count()
    sub = max(1, n_base // (10 * cell_target))
    reps = (
        raw_base.groupBy("label", F.pmod(F.col("vec_id"), F.lit(sub)).alias("_sg"))
        .agg(F.min("vec_id").alias("rep_id"))
    )
    return cell_probe(base, dq, _rep_centroids(base, reps), nprobe)


def ivf_sq8_hybrid_delta(
    embeddings: DataFrame,
    k: int = 5,
    delta_mod: int = 20,
    nprobe: int = 3,
    cell_target: int = 200,
    pool: int = SQ8_POOL,
    query_cap: int | None = 4000,
) -> DataFrame:
    """Floor-carrying INCREMENTAL ANN (r13): the living-dataset twin of
    ivf_sq8_hybrid_topk. A newly-arrived delta batch (vec_id %
    delta_mod == 0, the corpus_ops DELTA_MOD convention) probes the
    standing IVF index exactly as ivf_probe_delta does, UNIONED with
    the int8 two-phase pool of the same delta queries against the BASE
    corpus (the exact safety net), one shared exact re-rank. The
    legs' self-hit filters never drop a row here: delta and base are
    disjoint by construction.

    The net is what the probe path cannot give: a per-query min-recall
    guarantee. IVFROUTE_r13.json showed the quantizer-resolution-bound
    tail is invisible to every cell-geometry signal, and an arriving
    delta hits the same tail -- so the incremental path needs the same
    exact int8 net, priced at one quantized scan of the base per delta
    batch (1 byte/dim; at 100 TB this is the per-batch cost of the
    guarantee, amortized across the whole batch's queries in one
    broadcast pass). ``query_cap`` bounds the CERTIFICATION panel
    (vec_id < 4000 keeps the brute oracle ~200 queries at every
    generated scale -- the RAG_QUERY_CAP precedent); production runs
    query_cap=None. Output == brute force over (capped delta x base)
    whenever the pool survives the true top-k (pool-survival 1.0
    measured; the sq8 exactness contract), so the oracle IS the brute
    scan. Plan: Window-free, cartesian-free, both legs broadcast the
    query side."""
    emb = prepared(embeddings)
    is_delta = F.col("vec_id") % delta_mod == 0
    qcond = is_delta if query_cap is None else (
        is_delta & (F.col("vec_id") < query_cap)
    )
    cand = (
        _ivf_delta_candidates(
            embeddings, emb, delta_mod, nprobe, cell_target, query_cap
        )
        .unionByName(
            _sq8_pool_candidates(
                emb, pool, query_cond=qcond, corpus_cond=~is_delta
            )
        )
        .distinct()
    )
    return _rerank(cand, emb, k)
