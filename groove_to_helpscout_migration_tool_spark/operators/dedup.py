"""Near-duplicate detection operators for the LLM-data pipeline.

Three families, all DataFrame-native and oracle-mirrorable (every hash
goes through the md5-prefix scheme shared with the DuckDB oracles):

  - exact:   normalize -> md5 -> groupBy (llm_ops.llm_dedup_exact)
  - MinHash+LSH: word-3-gram shingles -> k=16 minhash signature ->
    4 bands x 4 rows -> band-bucket join -> exact Jaccard verify.
  - SimHash: 60-bit signature from word-hash bit votes; near-dup pairs
    block on 15-bit chunks and verify Hamming distance.

Scale notes (the whole point of these over pairwise compare):
  - candidate generation is always a self-equi-join on a BUCKET key
    (bucket_pairs) -- shuffle moves (key, doc_id) pairs, never text; the
    quadratic blowup is bounded per-bucket (skewed buckets =
    near-identical boilerplate; bucket_pairs' cap + star bounds it).
  - signatures are fixed-width (16 longs / 1 long), so the shuffle
    width is constant regardless of document size.
  - verification joins fetch shingle-hash arrays only for the candidate
    pairs, a tiny fraction of the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W
from pyspark.sql.functions import pandas_udf

from ..functions import text as TX
from .cache import persist_artifact

# MinHash: h_k(x) = (a_k * (x mod XFOLD) + b_k) mod MINHASH_P.
# XFOLD keeps a_k * x inside int64 (a < 2^31, x' < 2^30 -> product < 2^61).
MINHASH_P = 2_147_483_647  # 2^31 - 1
XFOLD = 1_000_000_007
# 16 fixed (a, b) pairs -- arbitrary odd constants, hardcoded so the
# DuckDB oracle sees byte-identical math.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1_203_877_561, 422_312_993), (1_884_591_173, 973_191_349),
    (747_193_687, 1_558_443_229), (1_100_662_241, 88_411_511),
    (2_071_429_331, 1_345_771_027), (433_024_253, 1_901_115_863),
    (1_641_118_957, 250_930_369), (955_386_341, 1_713_250_181),
    (289_502_477, 611_755_423), (1_496_839_219, 1_151_219_087),
    (828_028_429, 1_985_366_323), (1_352_580_511, 470_538_977),
    (581_914_643, 902_345_861), (1_757_682_437, 1_421_667_559),
    (104_395_303, 1_667_918_011), (1_021_909_823, 333_667_337),
]
N_BANDS, ROWS_PER_BAND = 4, 4
SIMHASH_BITS = 60


# gram hash = (h1*GRAM_A + h2*GRAM_B + h3) mod XFOLD over per-word hashes:
# one md5 per TOKEN instead of one per 3-gram of concatenated words (3x
# fewer md5s, no string building) -- the dominant cost of the near-dup
# family. h < XFOLD ~ 1e9, so h*GRAM_A < 1.1e15 stays well inside int64.
GRAM_A, GRAM_B = 1_000_003, 4093


def spread_off_file_layout(df: DataFrame, key: str) -> DataFrame:
    """Repartition ``df`` on ``key`` ONLY when the scan can't already
    feed every core.

    A small parquet arrives as one input split, so hash-heavy compute
    placed after it runs on a single core unless shuffled off the file
    layout. A 100-TB scan is the opposite case: thousands of splits and
    a repartition here would be a full shuffle of the raw corpus for
    nothing. Gate on scan parallelism vs the cluster's default so the
    local fixture pays the (tiny) shuffle and the at-scale plan skips
    it. getNumPartitions inspects the physical scan without running a
    job."""
    if df.rdd.getNumPartitions() >= df.sparkSession.sparkContext.defaultParallelism:
        return df
    return df.repartition(F.col(key))


def token_hashes(text_col) -> "F.Column":
    """Per-token folded hashes (one md5 per token)."""
    return F.transform(TX.tokens(text_col), lambda w: TX.word_hash(w) % XFOLD)


def gram_hashes(hs) -> "F.Column":
    """Distinct 3-gram hashes from a MATERIALIZED token-hash array column.

    ``hs`` must be a bound column, not the token_hashes() expression:
    element_at over a raw expression re-evaluates the whole per-token md5
    transform for every gram (O(n^2) md5s) -- Catalyst does not CSE
    inside higher-order functions."""
    n = F.size(hs)
    # guard n<3: Spark's sequence(1, 0) DESCENDS instead of being empty
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: (
                F.element_at(hs, i) * GRAM_A
                + F.element_at(hs, i + 1) * GRAM_B
                + F.element_at(hs, i + 2)
            )
            % XFOLD,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.array_distinct(grams)


def shingled_docs(documents: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *carry, xs) with the expensive shingle+hash stage computed ONCE:
    repartitioned off the raw file layout (a small parquet arrives as one
    input split -- without this the md5-heavy shingle compute runs on a
    single core) and persisted, because every near-dup operator references
    it 2-3 times (explode side(s) + verify join). At 100 TB this persist
    is a materialized signatures table, computed once per corpus snapshot
    and reused by every downstream dedup run."""
    docs = (
        # xs is non-empty iff the doc has >= 3 tokens: filtering on THAT
        # (cheap, no md5) before the shuffle prunes early AND keeps the
        # optimizer from pushing a size(xs)>0 predicate below the
        # exchange, which would re-inline the full hash expression onto
        # the single pre-shuffle input split. Then: repartition BEFORE
        # the hash expressions so the md5-heavy compute runs after the
        # shuffle, spread across all cores; the token-hash array is
        # materialized in its own projection (see gram_hashes on why).
        spread_off_file_layout(
            documents.filter(F.size(TX.tokens(F.col("text"))) >= 3), "doc_id"
        )
        .select("doc_id", *carry, token_hashes(F.col("text")).alias("hs"))
        .select("doc_id", *carry, gram_hashes(F.col("hs")).alias("xs"))
    )
    return persist_artifact(docs)


@pandas_udf(T.ArrayType(T.LongType()))
def _minhash_sig_batch(xs: pd.Series) -> pd.Series:
    """k=16 minhash minima per shingle array, Arrow-batched.

    The expression formulation (16 x array_min(transform(...))) walks
    every shingle array 16 times through the interpreted higher-order-
    function evaluator -- the dominant cost of the whole MinHash family.
    This computes (a_k*x + b_k) mod P as one int64 numpy broadcast per
    row. Pure integer arithmetic: bit-identical to the Spark expression
    and the DuckDB oracle by construction (a < 2^31, x < 2^30 keeps
    products inside int64)."""
    a = np.array([c[0] for c in MINHASH_COEFFS], dtype=np.int64)
    b = np.array([c[1] for c in MINHASH_COEFFS], dtype=np.int64)
    out = []
    for x in xs:
        xv = np.asarray(x, dtype=np.int64)
        if xv.size == 0:
            out.append(None)
            continue
        h = (xv[:, None] * a[None, :] + b[None, :]) % MINHASH_P
        out.append(h.min(axis=0))
    return pd.Series(out, dtype=object)


def minhash_signature(xs) -> "F.Column":
    """k=16 minhash signature array over a shingle-hash array column."""
    return _minhash_sig_batch(xs)


def band_keys(sig) -> "F.Column":
    """LSH band keys: band index + '-'-joined signature slice."""
    return F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(str(b)),
                *[sig[b * ROWS_PER_BAND + r].cast("string") for r in range(ROWS_PER_BAND)],
            )
            for b in range(N_BANDS)
        ]
    )


def cap_bucket(df: DataFrame, key: str, id_col: str, cap: int) -> DataFrame:
    """Keep the ``cap`` lowest ``id_col`` members per ``key`` bucket
    (deterministic rank). The hot-bucket guard for candidate self-joins:
    one boilerplate-heavy bucket ("the" shingle, an all-zeros band) makes
    the self-join quadratic in ITS width no matter how good the average
    is; capping bounds every bucket's SELF-JOIN pair count at
    cap*(cap-1)/2. The row_number window shuffles on the same key the
    join needs anyway, so it adds no extra exchange -- the sort is
    per-bucket.

    Capping alone ORPHANS beyond-cap members when every bucket a doc
    lands in is hot -- the worst case is exactly the motivating one:
    identical boilerplate docs have identical minhash signatures, so all
    their bands collapse into the SAME hot bucket and no other band can
    reconnect the members the cap dropped. bucket_pairs therefore pairs
    cap_bucket with star_pairs (below), which keeps one linear edge per
    member into the bucket's anchor. simhash_neardup_pairs is the one
    exception: it caps WITHOUT the star, so its beyond-cap members can be
    orphaned."""
    w = W.partitionBy(key).orderBy(id_col)
    return (
        df.withColumn("_bucket_rk", F.row_number().over(w))
        .filter(F.col("_bucket_rk") <= cap)
        .drop("_bucket_rk")
    )


def star_pairs(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """-> (i, j) linking EVERY ``key``-bucket member to the bucket's
    minimum ``id_col`` (its anchor), i < j. The recall companion of
    cap_bucket: the capped self-join bounds a hot bucket's all-pairs
    blowup at cap*(cap-1)/2, and this star adds width-1 anchor edges so
    beyond-cap members still reach the bucket's cluster core -- total
    per-bucket candidates cap*(cap-1)/2 + (width - cap), LINEAR in
    width. The same assign-to-min shape simhash_dedup_assign uses;
    similarity.semantic_dedup_assign reads its candidates from here. The
    groupBy min and the join both shuffle on ``key``, which the capped
    self-join shuffles on anyway; ``df`` should be the payload-free
    (key, id) frame so neither stage moves document payloads."""
    anchors = df.groupBy(key).agg(F.min(id_col).alias("i"))
    return (
        df.join(anchors, key)
        .filter(F.col(id_col) > F.col("i"))
        .select("i", F.col(id_col).alias("j"))
    )


def band_index(docs: DataFrame) -> DataFrame:
    """-> (doc_id, band_key): the persisted MinHash band index over
    shingled_docs output, one row per (doc, band). Persisted because
    every consumer reads it twice (both sides of a bucket join, or a
    bucket join plus the star) -- without it the k=16 minhash stage runs
    once per read. The one build of this frame, so every near-dup query
    in a session reads the same cache entry."""
    sigd = docs.select("doc_id", minhash_signature(F.col("xs")).alias("sig"))
    return persist_artifact(
        sigd.select("doc_id", F.explode(band_keys(F.col("sig"))).alias("band_key"))
    )


def bucket_pairs(
    ex: DataFrame, key: str, id_col: str, cap: int | None = None
) -> DataFrame:
    """-> (i, j), i < j, distinct: every pair of ``id_col`` values that
    share a ``key`` bucket of ``ex`` -- the candidate self-join of the
    bucketed near-dup family (MinHash bands, bottom-1 anchors, embedding
    LSH buckets). ``ex`` should be the payload-free (key, id) frame.

    With ``cap``, the self-join reads the bucket's ``cap`` lowest ids
    (cap_bucket, persisted so both sides share one window) and the
    UNCAPPED frame adds a star link from every member to the bucket's
    min id (star_pairs): cap*(cap-1)/2 + (width - cap) candidates per
    bucket, linear in width, no beyond-cap member orphaned."""
    joinable = ex
    if cap is not None:
        joinable = persist_artifact(cap_bucket(ex, key, id_col, cap))
    cand = (
        joinable.select(F.col(id_col).alias("i"), key)
        .join(joinable.select(F.col(id_col).alias("j"), key), [key])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
    )
    if cap is not None:
        cand = cand.unionByName(star_pairs(ex, key, id_col))
    return cand.distinct()


def with_shingles(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """-> cand + (xs_i, xs_j): the shingle arrays of an (i, j) candidate
    frame, joined back from shingled_docs output once per candidate."""
    xs_map = docs.select("doc_id", "xs")
    return cand.join(
        xs_map.select(F.col("doc_id").alias("i"), F.col("xs").alias("xs_i")), "i"
    ).join(
        xs_map.select(F.col("doc_id").alias("j"), F.col("xs").alias("xs_j")), "j"
    )


def jaccard() -> "F.Column":
    """Exact shingle-set Jaccard of the bound ``xs_i``/``xs_j`` columns,
    rounded to 6 so Spark/DuckDB float noise cannot flip a threshold."""
    return F.round(
        F.size(F.array_intersect("xs_i", "xs_j"))
        / F.size(F.array_union("xs_i", "xs_j")),
        6,
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    jaccard_threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """-> (doc_i, doc_j, jaccard): near-dup candidate pairs that share an
    LSH band bucket, verified by exact Jaccard on shingle-hash sets.

    ``bucket_cap`` bounds each band bucket to its cap lowest doc_ids
    before the self-join (see cap_bucket) AND star-links every bucket
    member -- including beyond-cap ones -- to the bucket's min doc_id
    (star_pairs), so a hot bucket contributes cap*(cap-1)/2 + (width -
    cap) candidates, linear in width, with no member orphaned. Without
    the star, identical-signature docs (the boilerplate case the cap
    targets) collapse all bands into ONE hot bucket and beyond-cap
    members would lose every edge."""
    docs = shingled_docs(documents)
    cand = bucket_pairs(band_index(docs), "band_key", "doc_id", bucket_cap)
    pairs = with_shingles(cand, docs).withColumn("jaccard", jaccard())
    return (
        pairs.filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("i").alias("doc_i"), F.col("j").alias("doc_j"), "jaccard")
    )


def _ensure_checkpoint_dir(spark) -> None:
    """Point the SparkContext at a STORAGE-backed checkpoint dir (once).

    localCheckpoint keeps blocks in executor memory/disk -- executor
    loss mid-iteration kills the job at cluster scale. checkpoint()
    writes to this directory instead (HDFS/S3 on a real cluster via
    $SPARK_GRAFT_CHECKPOINT_DIR; a local tmpdir here), so recomputation
    after executor death replays from durable storage.

    Cleanup is two-layered: the session factory enables
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` so checkpoint
    files are deleted when their RDD is GC'd within an application, and
    for local filesystem dirs an atexit hook removes this application's
    UUID subdirectory (setCheckpointDir appends one per app) so repeated
    application runs do not accumulate dead checkpoint trees."""
    import os
    import tempfile

    jsc = spark.sparkContext
    if jsc._jsc.sc().getCheckpointDir().isEmpty():
        jsc.setCheckpointDir(
            os.environ.get(
                "SPARK_GRAFT_CHECKPOINT_DIR",
                os.path.join(tempfile.gettempdir(), "spark_graft_checkpoints"),
            )
        )
        resolved = jsc._jsc.sc().getCheckpointDir().get()
        if resolved.startswith("file:") or resolved.startswith("/"):
            import atexit
            import shutil
            from urllib.parse import urlparse

            local = urlparse(resolved).path if ":" in resolved else resolved
            atexit.register(shutil.rmtree, local, ignore_errors=True)


# Convergence telemetry of the most recent connected_components call
# (driver-side: the loop IS a driver loop, so a plain dict suffices).
CC_LAST: dict = {}


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """-> (node, label): connected components of an undirected graph given
    as a DIRECTED edge DataFrame (src, dst) containing both orientations
    of every edge. label = the component's minimum node id.

    Min-label propagation with PATH-HALVING pointer jumps: each round
    every node takes min(own label, neighbors' labels, its label's
    label). The neighbor step alone needs O(diameter) rounds -- a
    pathological near-dup chain of length 1000 would exhaust any sane
    iteration budget. The label-of-label jump halves pointer-chain
    length every round, so convergence is O(log diameter): max_iter=20
    covers diameters past 10^5 (same effect as the large-star/small-star
    scheme of Kiveris et al., in one joined step). Lineage is truncated
    EVERY round with STORAGE-BACKED checkpoint() (an iterative algorithm
    on Spark is a driver loop over checkpointed DataFrames -- without
    truncation the plan doubles each round; localCheckpoint would lose
    blocks on executor death, see _ensure_checkpoint_dir), and the
    convergence count piggybacks on each checkpoint. Per-round
    checkpointing beats the earlier every-2-rounds schedule on real
    dedup graphs: their diameter is tiny (near-dup clusters are
    near-cliques), so convergence lands in 2-3 rounds and the deciding
    factor is cascade depth per action, not checkpoint count -- the
    old schedule's final check re-ran a 2-round join cascade and cost
    ~40% of total runtime. The checkpointed frame is (node, label) --
    two bigints, orders of magnitude smaller than the corpus that
    produced the edges -- so per-round checkpoint I/O stays negligible
    at 100 TB. Raises if the budget is exhausted rather than silently
    returning partial labels.

    Telemetry: each call records {rounds, changed_per_round} into
    ``CC_LAST`` (module-level, driver-side) so convergence regressions
    -- a graph shape that suddenly needs more rounds, or a propagation
    bug that stops making progress -- are visible in bench artifacts
    (bench.py copies it into BENCH_DETAIL.json) instead of silently
    inflating wall time."""
    _ensure_checkpoint_dir(edges.sparkSession)
    CC_LAST.clear()
    CC_LAST.update({"rounds": 0, "changed_per_round": []})
    # initialize at min(node, neighbors) -- the first propagation round
    # folded into one aggregation, saving an iteration on most graphs
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("nbr_min"))
        .select("node", F.least("node", "nbr_min").alias("label"))
        .checkpoint()
    )
    for it in range(max_iter):
        prop = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("pnode"))
            .agg(F.min("label").alias("nbr_min"))
        )
        jump = labels.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        new_labels = labels.join(prop, labels.node == prop.pnode, "left").join(
            jump, labels.label == jump.jnode, "left"
        ).select(
            "node",
            F.least(
                F.col("label"),
                F.coalesce("nbr_min", "label"),
                F.coalesce("jlabel", "label"),
            ).alias("new_label"),
            "label",
        )
        # The convergence statistic piggybacks on the checkpoint job via
        # an Observation (CollectMetrics is evaluated by the eager
        # checkpoint's own materialization -- verified on this Spark
        # build), so each round runs ONE job, not two: the r12 form paid
        # a second full scan of the checkpointed labels per round just
        # to count changes. At 100 TB that second pass is an N-row scan
        # per round; here it was one extra job launch per round.
        from pyspark.sql import Observation

        obs = Observation()
        new_labels = new_labels.observe(
            obs,
            F.sum(
                (F.col("new_label") != F.col("label")).cast("long")
            ).alias("changed"),
        ).checkpoint()
        changed = int(obs.get["changed"] or 0)
        CC_LAST["rounds"] = it + 1
        CC_LAST["changed_per_round"].append(changed)
        labels = new_labels.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def neardup_clusters(
    documents: DataFrame,
    jaccard_threshold: float = 0.5,
    max_iter: int = 20,
    bucket_cap: int | None = None,
) -> DataFrame:
    """-> (doc_id, cluster_id, is_keeper): connected components over the
    MinHash-LSH near-dup pair graph -- the step that turns PAIRS into a
    dedup DECISION (keep cluster min, drop the rest).

    ``bucket_cap`` threads straight to minhash_lsh_pairs: without it the
    edge build is the UNCAPPED band self-join, quadratic in the width of
    one boilerplate-heavy bucket (see cap_bucket). Every production
    caller should pass a cap; component recall survives it because the
    capped path star-links every bucket member -- beyond-cap ones
    included -- to the bucket's min doc_id (star_pairs), so even when
    identical signatures collapse all 4 bands into one hot bucket, each
    member keeps a verified edge into the cluster core."""
    pairs = minhash_lsh_pairs(
        documents, jaccard_threshold, bucket_cap=bucket_cap
    ).select("doc_i", "doc_j")
    edges = persist_artifact(
        pairs.unionByName(
            pairs.select(F.col("doc_j").alias("doc_i"), F.col("doc_i").alias("doc_j"))
        ).toDF("src", "dst")
    )
    labels = connected_components(edges, max_iter=max_iter)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def capped_anchor_candidates(docs: DataFrame, anchor_cap: int) -> DataFrame:
    """-> (i, j, xs_i, xs_j): candidate pairs sharing their bottom-1
    shingle anchor (min shingle hash), built by the capped bucket_pairs
    (cap self-join + star) over the payload-free (doc_id, anchor) frame,
    with shingle arrays joined back once per candidate.

    The ONE implementation of the capped bottom-1-anchor candidate
    build -- ngram_jaccard_pairs (Jaccard verify) and the asymmetric
    containment detector (directional-ratio verify) both read their
    pairs from here, so a cap/star fix reaches both."""
    ids = persist_artifact(docs.select("doc_id", F.array_min("xs").alias("anchor")))
    return with_shingles(bucket_pairs(ids, "anchor", "doc_id", anchor_cap), docs)


def ngram_jaccard_pairs(
    documents: DataFrame,
    jaccard_threshold: float = 0.4,
    anchor_cap: int | None = None,
) -> DataFrame:
    """-> (doc_i, doc_j, jaccard): EXACT word-3-gram Jaccard over
    candidate pairs that share their minimum shingle hash (bottom-1
    sketch anchoring -- equivalently MinHash LSH with one band of one
    row, so P(candidate) = true Jaccard).

    Next to minhash_lsh_pairs this trades recall for a far cheaper
    candidate stage: one groupBy key per doc, no signature computation.
    At 100 TB: the anchor groupBy shuffles (anchor, doc_id) pairs only;
    hot anchors (boilerplate shingles) are capped before the pairwise
    verify, with a star_pairs anchor link so beyond-cap members of a
    hot anchor bucket keep one verified edge (linear per bucket)."""
    docs = shingled_docs(documents)
    if anchor_cap is not None:
        pairs = capped_anchor_candidates(docs, anchor_cap)
    else:
        # xs rides through the one anchor join: bucket_pairs plus
        # with_shingles re-joins it (sf0.01: 7 -> 11 jobs, 67 -> 131 tasks)
        anchored = docs.withColumn("anchor", F.array_min("xs"))
        left = anchored.select(
            F.col("doc_id").alias("i"), F.col("xs").alias("xs_i"), "anchor"
        )
        right = anchored.select(
            F.col("doc_id").alias("j"), F.col("xs").alias("xs_j"), "anchor"
        )
        pairs = left.join(right, ["anchor"]).filter(F.col("i") < F.col("j"))
    pairs = pairs.withColumn("jaccard", jaccard())
    return (
        pairs.filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("i").alias("doc_i"), F.col("j").alias("doc_j"), "jaccard")
        .distinct()
    )


@pandas_udf(T.LongType())
def _simhash_sig_batch(hs: pd.Series) -> pd.Series:
    """60-bit SimHash from a per-doc distinct-word-hash array,
    Arrow-batched: bit j is set iff 2 * count(hashes with bit j set)
    exceeds the hash count. One concatenate + 60 strided reduceat
    passes per batch -- no per-row Python."""
    n = len(hs)
    sigs = np.zeros(n, dtype=np.int64)
    lens = np.fromiter((len(a) for a in hs), dtype=np.int64, count=n)
    mask = lens > 0
    if not mask.any():
        return pd.Series(sigs)
    flat = np.concatenate(
        [np.asarray(a, dtype=np.uint64) for a in hs if len(a)]
    )
    l2 = lens[mask]
    offs = np.zeros(l2.size, dtype=np.int64)
    np.cumsum(l2[:-1], out=offs[1:])
    sig_nz = np.zeros(l2.size, dtype=np.int64)
    for j in range(SIMHASH_BITS):
        cnt = np.add.reduceat(
            ((flat >> np.uint64(j)) & np.uint64(1)).astype(np.int64), offs
        )
        sig_nz |= (2 * cnt > l2).astype(np.int64) << j
    sigs[mask] = sig_nz
    return pd.Series(sigs)


def simhash_signature(documents: DataFrame) -> DataFrame:
    """-> (doc_id, simhash): 60-bit SimHash over distinct word hashes.

    Bit j of the signature is the sign of sum over words of
    (bit j of word-hash ? +1 : -1) -- equivalently, bit j is set iff
    2 * count(words with bit j set) > count(words). The md5 word hashes
    stay JVM-side (transform over the distinct-token array, codegen'd);
    the 60-bit vote runs in ONE Arrow-batched numpy pass over the hash
    array. ZERO shuffle: the round-2 form aggregated 61 SUM columns over
    an exploded word row per token (~1M rows at sf0.1); this never
    leaves the doc row. Docs with no tokens emit no signature row,
    matching the explode semantics it replaces."""
    docs = (
        # spread the tokenize/hash stage off the raw file layout (a small
        # parquet is one input split = one core otherwise; skipped when
        # the scan already has cluster-wide parallelism)
        spread_off_file_layout(documents, "doc_id")
        .select(
            "doc_id",
            F.transform(
                F.array_distinct(TX.tokens(F.col("text"))),
                lambda w: TX.word_hash(w),
            ).alias("hs"),
        )
        .filter(F.size("hs") > 0)
    )
    return docs.select("doc_id", _simhash_sig_batch(F.col("hs")).alias("simhash"))


def _chunk_keys() -> "F.Column":
    """Four 15-bit signature chunk keys over a bound ``simhash`` column."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(c)),
                (F.shiftright(F.col("simhash"), c * 15) % F.lit(1 << 15)).cast("string"),
            )
            for c in range(4)
        ]
    )


def simhash_neardup_pairs(
    documents: DataFrame, max_hamming: int = 8, bucket_cap: int | None = None
) -> DataFrame:
    """-> (doc_i, doc_j, hamming): pairs blocked on any equal 15-bit
    signature chunk, verified by Hamming distance <= max_hamming.

    ``bucket_cap`` bounds each chunk bucket to its cap lowest doc_ids
    before the self-join (cap_bucket) -- the guard for boilerplate-heavy
    corpora where one shared chunk value makes the self-join quadratic
    in that bucket's width (the round-2 scale hole: 1.6M pairs at
    sf0.1). Unlike bucket_pairs it adds NO star_pairs link, so a doc
    beyond the cap in every chunk bucket it lands in loses all its
    pairs. Uncapped remains the oracle-exact form. The self-join stays
    inline because it carries the signature through the join and
    verifies Hamming before the distinct."""
    # persisted: the candidate join references the signatures twice
    sig = persist_artifact(simhash_signature(documents))
    ex = sig.select("doc_id", "simhash", F.explode(_chunk_keys()).alias("chunk"))
    if bucket_cap is not None:
        # persist the capped explode: the row_number shuffle would
        # otherwise run once per side of the self-join
        ex = persist_artifact(cap_bucket(ex, "chunk", "doc_id", bucket_cap))
    left = ex.select(F.col("doc_id").alias("i"), F.col("simhash").alias("sh_i"), "chunk")
    right = ex.select(F.col("doc_id").alias("j"), F.col("simhash").alias("sh_j"), "chunk")
    hamming = F.bit_count(F.col("sh_i").bitwiseXOR(F.col("sh_j")))
    # Hamming-verify BEFORE the dedup shuffle: distance is a pure
    # function of the pair, so filtering first is semantically identical
    # but the distinct() then shuffles only the surviving pairs (~1% of
    # candidates) instead of the full quadratic bucket-join output --
    # at 100 TB the candidate stream is the operator's dominant volume
    # and it now dies map-side inside codegen.
    return (
        left.join(right, ["chunk"])
        .filter(F.col("i") < F.col("j"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("i").alias("doc_i"), F.col("j").alias("doc_j"), "hamming")
        .distinct()
    )


def simhash_dedup_assign(documents: DataFrame, max_hamming: int = 8) -> DataFrame:
    """-> (doc_id, rep_id, hamming): star-shaped dedup ASSIGNMENT -- each
    doc is tested against one anchor per chunk bucket (the bucket's
    minimum doc_id) and assigned to its smallest verified anchor.

    This is the scale path next to simhash_neardup_pairs: full pair
    enumeration on a clustered corpus is quadratic in cluster size (1.6M
    pairs at sf0.1 with hamming<=8), while the dedup DECISION only needs
    one link per duplicate. Candidate volume here is O(N x 4 chunks) and
    output is <= N rows regardless of how clustered the corpus is. Docs
    that anchor their own buckets (or verify against no anchor) emit
    nothing; feeding (rep_id, doc_id) links into connected_components
    recovers full clusters when chain-transitivity matters."""
    sig = persist_artifact(simhash_signature(documents))
    ex = sig.select("doc_id", "simhash", F.explode(_chunk_keys()).alias("chunk"))
    anchors = ex.groupBy("chunk").agg(F.min("doc_id").alias("anchor"))
    cand = (
        ex.join(anchors, ["chunk"])
        .filter(F.col("doc_id") > F.col("anchor"))
        .select("doc_id", "simhash", "anchor")
        .distinct()
    )
    asig = sig.select(F.col("doc_id").alias("anchor"), F.col("simhash").alias("sh_a"))
    verified = (
        cand.join(asig, ["anchor"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("sh_a"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return verified.groupBy("doc_id").agg(
        F.min("anchor").alias("rep_id"),
        F.min_by("hamming", "anchor").alias("hamming"),
    )
