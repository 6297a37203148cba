"""Corpus-maintenance and retrieval operators (round 6 continuation):
the ops a pre-training corpus needs once it stops being a one-shot
build and becomes a living dataset -- segment-level boilerplate
removal, incremental near-dup probing of a delta batch against the
standing index, and sparse-vector retrieval over the hashed feature
space.

  - llm_segment_dedup          : CCNet/RefinedWeb-style duplicated-
        segment removal -- corpus-wide segment hashing, drop every
        copy of a repeated segment, reassemble documents in order.
  - llm_segment_dedup_keep_first: the keep-ONE-copy policy variant --
        the canonical (lowest doc_id, lowest position) occurrence of a
        repeated segment survives, every other copy drops.
  - llm_neardup_incremental_lsh: probe a NEW batch of documents
        against the standing MinHash band index; cost scales with the
        delta, not the corpus.
  - llm_rag_retrieve_sparse    : top-k retrieval of corpus documents
        for a query set via hashing-trick sparse vectors -- broadcast
        inverted-index join + two-phase (salted) top-k, integer dot
        products so the oracle is bit-exact.
  - llm_substring_dedup_spans  : sliding-window duplicated-span
        detection (the exact-substring dedup shape): corpus-duplicated
        8-grams mark every token position they cover; per-doc coverage
        stats, expansion bounded to the (rare) duplicated grams.
  - llm_bpe_pair_counts        : one BPE merge round (the tokenizer-
        training kernel) -- adjacent-character pair counts over the
        frequency-weighted VOCABULARY, never the raw corpus.
  - llm_importance_weights_dsir: DSIR-style importance weighting --
        hashed-unigram likelihood ratio of a target slice vs the raw
        corpus, bounded model broadcast back over the corpus.
  - llm_bigram_lm_score        : CCNet-style LM-likelihood quality
        signal -- corpus-fit bigram LM scores each doc's mean
        transition probability via a deterministic ordered fold
        (log-free so the oracle stays bit-exact).

Reference parity note: the reference tool (a ticket migrator) has no
corpus stage; these extend the engine for the LLM-data workload like
catalog/llm_ops.py and catalog/curation_ops.py do, every operator
oracle-checked against DuckDB on the shared parquet tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup as DD
from ..operators.cache import persist_artifact
from ..registry import register
from ..session import load_tables
from . import curation_ops as _CU  # registration-order dependency
from . import llm_ops as _LL

_TOKENS_SQL = _LL._TOKENS_SQL
_WORD_HASH_SQL = _LL._WORD_HASH_SQL
_SHINGLE_CTES = _LL._SHINGLE_CTES
_MINHASH_SIG_SQL = _LL._MINHASH_SIG_SQL
_SIM_DIM = _LL.SIM.DIM


# ---------------------------------------------------------------------------
# Segment-level exact dedup (CCNet / RefinedWeb line-dedup shape)
# ---------------------------------------------------------------------------
# The synthetic corpus has no newline structure, so the segmentation
# unit is a fixed non-overlapping token window instead of a "line" --
# the pipeline shape (hash each segment corpus-wide, drop every copy of
# a repeated segment, reassemble the doc) is identical.
SEG_W = 12


def _segment_table(
    documents: DataFrame,
    carry: tuple[str, ...] = (),
    with_text: bool = True,
) -> DataFrame:
    """(doc_id, seg_idx[, seg_text], seg_hash): non-overlapping SEG_W-token
    windows, md5-hashed. md5-per-segment is the expensive stage: spread
    it off a one-split local scan (no-op on a many-split at-scale scan).

    ``carry`` passes extra per-doc columns (e.g. source) through the
    segment stream so source-scoped consumers never need to join the
    corpus projection back on -- at 100 TB a doc_id->source map is not
    broadcastable, but a column riding the same scan is free.

    ``with_text=False`` omits seg_text (the md5 is still computed from
    it transiently): the SLIM hash stream is the form the dedup
    deciders persist -- fixed-width ~48-byte rows, never corpus text."""
    docs = DD.spread_off_file_layout(documents, "doc_id")
    toked = docs.select("doc_id", *carry, TX.tokens(F.col("text")).alias("toks"))
    # sequence(1, 0) DESCENDS instead of being empty -> guard n > 0
    # (DuckDB's range(1, 1) is naturally empty, so empty docs drop from
    # both sides identically).
    n_segs = F.ceil(F.size("toks") / F.lit(float(SEG_W))).cast("int")
    segged = toked.filter(F.size("toks") > 0).select(
        "doc_id",
        *carry,
        "toks",
        F.explode(F.sequence(F.lit(1), n_segs)).alias("seg_idx"),
    )
    seg_text = F.array_join(
        F.slice(F.col("toks"), (F.col("seg_idx") - 1) * SEG_W + 1, SEG_W), " "
    )
    cols = [
        F.col("doc_id"),
        *[F.col(c) for c in carry],
        F.col("seg_idx").cast("bigint").alias("seg_idx"),
    ]
    if with_text:
        cols.append(seg_text.alias("seg_text"))
    cols.append(F.md5(seg_text).alias("seg_hash"))
    return segged.select(*cols)


def _segment_drop_lists(dropped: DataFrame) -> DataFrame:
    """(doc_id, drop_idxs): per-doc sorted list of dropped seg_idx from a
    (doc_id, seg_idx) stream of drop decisions. Rows are unique by
    construction (each slim-stream row matches at most one decider row),
    so collect_list never duplicates; group size is bounded by
    segments-per-doc, so the aggregate cannot skew. Only docs with at
    least one drop appear -- the reassembly treats absence as
    keep-everything, which keeps this frame dup-occurrence-sized
    (broadcast-shaped on a healthy corpus) instead of corpus-sized."""
    return dropped.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("seg_idx")).alias("drop_idxs")
    )


def _segment_reassemble(
    documents: DataFrame, drops: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Rebuild (doc_id[, carry], n_segments, n_kept, kept_text) in ONE
    text-bearing pass: re-tokenize, left-join the per-doc dropped-
    seg_idx lists (no row => keep every segment), and cut + join the
    kept segments with array expressions over the doc's own token
    array. Replaces the r6 collect_list(struct(seg_idx, kept,
    seg_text)) + sort_array group-back, which forced a SECOND full
    tokenize+md5 segment pass (AQE never stage-reuses the shared
    subtree -- the r13 finding) and pushed corpus text through an
    ObjectHashAggregate buffer. Here the md5 stage runs exactly once
    (in the persisted slim hash stream the deciders consume), this
    pass re-tokenizes only, and no aggregate ever holds text. The
    drops join is broadcast-shaped on a healthy corpus; if drops
    outgrow the threshold the fallback doc_id shuffle moves the same
    bytes the old group-back's partial-aggregate exchange moved."""
    docs = DD.spread_off_file_layout(documents, "doc_id")
    toked = docs.select("doc_id", *carry, TX.tokens(F.col("text")).alias("toks"))
    joined = toked.filter(F.size("toks") > 0).join(drops, ["doc_id"], "left")
    n_segs = F.ceil(F.size("toks") / F.lit(float(SEG_W))).cast("bigint")
    drop_arr = F.coalesce(F.col("drop_idxs"), F.array().cast("array<bigint>"))
    kept_idx = F.filter(
        F.sequence(F.lit(1).cast("bigint"), n_segs),
        lambda i: ~F.array_contains(drop_arr, i),
    )
    return joined.select(
        "doc_id",
        *carry,
        n_segs.alias("n_segments"),
        (n_segs - F.size(drop_arr)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                kept_idx,
                lambda i: F.array_join(
                    F.slice(
                        F.col("toks"), ((i - 1) * SEG_W + 1).cast("int"), SEG_W
                    ),
                    " ",
                ),
            ),
            " ",
        ).alias("kept_text"),
    )


@register(
    "llm_segment_dedup",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), segs AS (
  SELECT doc_id, k AS seg_idx,
         array_to_string(list_slice(t, (k-1)*{SEG_W}+1, k*{SEG_W}), ' ') AS seg_text
  FROM toks, unnest(range(1, CAST(ceil(len(t)/{SEG_W}.0) AS BIGINT) + 1)) AS u(k)
), h AS (
  SELECT doc_id, seg_idx, seg_text, md5(seg_text) AS seg_hash FROM segs
), c AS (
  SELECT seg_hash, count(*) AS cnt FROM h GROUP BY seg_hash
), m AS (
  SELECT h.doc_id, h.seg_idx, h.seg_text, c.cnt FROM h JOIN c USING (seg_hash)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(coalesce(sum(CASE WHEN cnt = 1 THEN 1 END), 0) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN cnt = 1 THEN seg_text END, ' ' ORDER BY seg_idx),
                '') AS kept_text
FROM m GROUP BY doc_id
""",
    doc=(
        "Duplicated-segment removal (the CCNet / RefinedWeb line-dedup"
        " stage, re-expressed over fixed 12-token windows because the"
        " synthetic corpus has no line structure): every document is cut"
        " into non-overlapping segments, each segment is md5-hashed, and"
        " every copy of any segment that occurs more than once CORPUS-WIDE"
        " is dropped; surviving segments are reassembled in order. Plan"
        " (r13 re-shape, guide 8.4 decide-with-small-rows): the expensive"
        " tokenize+md5 segment pass runs ONCE into a persisted SLIM"
        " (doc_id, seg_idx, seg_hash) stream -- fixed-width rows, never"
        " corpus text (same persist discipline as the substring-dedup"
        " gram stream); a map-side-combining groupBy(seg_hash) finds the"
        " duplicated hashes (a hot boilerplate segment collapses to ONE"
        " count row, so skew cannot amplify); the slim stream joins them"
        " back to per-doc dropped-position lists; and kept_text is"
        " reassembled in ONE md5-free text pass with array expressions --"
        " no second segment cascade, no text through an aggregate buffer,"
        " no windows."
    ),
)
def llm_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    slim = persist_artifact(_segment_table(t.documents, with_text=False))
    # Map-side partial counts make the groupBy skew-proof; only hashes
    # seen more than once survive, so the join right side is small
    # relative to the corpus (boilerplate is the exception, not the rule).
    dup_hashes = (
        slim.groupBy("seg_hash")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("seg_hash")
    )
    drops = _segment_drop_lists(slim.join(dup_hashes, ["seg_hash"]))
    return _segment_reassemble(t.documents, drops)


# ---------------------------------------------------------------------------
# Segment dedup, keep-one-copy policy (RefinedWeb-style)
# ---------------------------------------------------------------------------
# packed (doc_id, seg_idx) argmin: seg_idx < 2^20 (docs far below 12M
# tokens), doc_id < 2^40 -- the same bit-pack bounds regime as
# llm_dedup_by_source, so min() stays inside HashAggregate codegen
# instead of falling into a SortAggregate over a struct.
_SEG_PACK = 1 << 20


@register(
    "llm_segment_dedup_keep_first",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), segs AS (
  SELECT doc_id, k AS seg_idx,
         array_to_string(list_slice(t, (k-1)*{SEG_W}+1, k*{SEG_W}), ' ') AS seg_text
  FROM toks, unnest(range(1, CAST(ceil(len(t)/{SEG_W}.0) AS BIGINT) + 1)) AS u(k)
), h AS (
  SELECT doc_id, seg_idx, seg_text, md5(seg_text) AS seg_hash FROM segs
), c AS (
  SELECT seg_hash, count(*) AS cnt,
         min(doc_id * {_SEG_PACK} + seg_idx) AS first_packed
  FROM h GROUP BY seg_hash
), m AS (
  SELECT h.doc_id, h.seg_idx, h.seg_text,
         (c.cnt = 1 OR h.doc_id * {_SEG_PACK} + h.seg_idx = c.first_packed)
           AS kept
  FROM h JOIN c USING (seg_hash)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(coalesce(sum(CASE WHEN kept THEN 1 END), 0) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN kept THEN seg_text END, ' ' ORDER BY seg_idx),
                '') AS kept_text
FROM m GROUP BY doc_id
""",
    doc=(
        "Segment dedup under the KEEP-ONE-COPY policy (the RefinedWeb"
        " flavor, vs llm_segment_dedup's CCNet drop-every-copy): the"
        " canonical occurrence of each repeated segment -- lowest doc_id,"
        " then lowest position, chosen by a bit-packed integer argmin"
        " that stays inside HashAggregate codegen -- survives; every"
        " other copy drops. Plan (r13 re-shape): the tokenize+md5 segment"
        " pass runs ONCE into the persisted slim hash stream; the per-hash"
        " argmin aggregate keeps only the dup subset (cnt > 1 -- a"
        " unique-hash row can never produce a drop), so the join back to"
        " the slim stream is against a SMALL frame instead of the old"
        " all-hashes corpus-scale sort-merge join; dropped positions"
        " (every dup occurrence except the packed argmin) become per-doc"
        " drop lists and kept_text reassembles in one md5-free text pass."
    ),
)
def llm_segment_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    slim = persist_artifact(_segment_table(t.documents, with_text=False))
    packed = F.col("doc_id") * _SEG_PACK + F.col("seg_idx")
    stats = (
        slim.groupBy("seg_hash")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(packed).alias("first_packed"),
        )
        # kept = (cnt == 1) | (packed == first_packed): a unique hash or
        # its argmin occurrence never drops, so only dup hashes matter
        .filter(F.col("cnt") > 1)
        .select("seg_hash", "first_packed")
    )
    drops = _segment_drop_lists(
        slim.join(stats, ["seg_hash"]).filter(packed != F.col("first_packed"))
    )
    return _segment_reassemble(t.documents, drops)


# ---------------------------------------------------------------------------
# Incremental near-dup probe: delta batch vs standing LSH index
# ---------------------------------------------------------------------------
DELTA_MOD = 20  # doc_id % 20 == 0 plays the "newly arrived batch"


@register(
    "llm_neardup_incremental_lsh",
    oracle=f"""
WITH {_SHINGLE_CTES}, {_MINHASH_SIG_SQL}, bands AS (
  SELECT doc_id, b.b AS b,
    b.b::VARCHAR || '-' || array_to_string(list_slice(sig, b.b*4 + 1, b.b*4 + 4), '-') AS band_key
  FROM sig, (SELECT unnest(range({DD.N_BANDS})) AS b) b
), cand AS (
  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
  FROM bands l JOIN bands r ON l.band_key = r.band_key
  WHERE l.doc_id % {DELTA_MOD} = 0 AND r.doc_id % {DELTA_MOD} <> 0
)
SELECT c.i AS new_doc_id, c.j AS base_doc_id,
       round(len(list_intersect(a.xs, b.xs))::DOUBLE
             / len(list_distinct(list_concat(a.xs, b.xs))), 6) AS jaccard
FROM cand c JOIN docs a ON a.doc_id = c.i JOIN docs b ON b.doc_id = c.j
WHERE round(len(list_intersect(a.xs, b.xs))::DOUBLE
            / len(list_distinct(list_concat(a.xs, b.xs))), 6) >= 0.5
""",
    doc=(
        "INCREMENTAL near-dup detection: a newly arrived batch (docs with"
        f" doc_id %% {DELTA_MOD} == 0 play the delta) is probed against the"
        " standing corpus's MinHash band index -- delta band keys equi-join"
        " base band keys, candidates verify by exact shingle Jaccard >="
        " 0.5. The band index is dedup.band_index over the WHOLE corpus,"
        " the same persisted in-session cache entry the MinHash near-dup"
        " queries read: the delta/base split filters it after signing."
        " Run cold, this query signs every document, so its cost grows"
        " with the corpus; only once that entry is cached (e.g. after"
        " llm_neardup_minhash_lsh has run in the session) does a batch"
        " pay just its probe join and verify. The one-sided join also"
        " cannot go quadratic in a hot bucket the way the self-join can:"
        " a bucket with d delta and b base members emits d*b pairs,"
        " bounded by the delta's width. Complements llm_dedup_incremental (exact-hash"
        " form) with the near-dup semantics of llm_neardup_minhash_lsh."
    ),
)
def llm_neardup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = DD.shingled_docs(t.documents)
    bands = DD.band_index(docs)
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    delta = bands.filter(is_delta).select(F.col("doc_id").alias("i"), "band_key")
    base = bands.filter(~is_delta).select(F.col("doc_id").alias("j"), "band_key")
    cand = delta.join(base, ["band_key"]).select("i", "j").distinct()
    pairs = DD.with_shingles(cand, docs).withColumn("jaccard", DD.jaccard())
    return pairs.filter(F.col("jaccard") >= 0.5).select(
        F.col("i").alias("new_doc_id"), F.col("j").alias("base_doc_id"), "jaccard"
    )


# ---------------------------------------------------------------------------
# Sparse retrieval over the hashed feature space (RAG-shaped top-k)
# ---------------------------------------------------------------------------
RAG_QUERY_MOD = 100  # doc_id % 100 == 0 plays the query set...
# ...capped to a FIXED panel (r10): doc_id < RAG_QUERY_CAP. Without the
# cap the query count grows with the corpus (doc/MOD), so the (qid, did)
# candidate frame grows ~N^2/MOD -- measured as a >5x-over-linear wall
# blowup at the sf10 decade (5,000 queries x 495k docs = 2.5B pairs).
# A production retrieval workload is a fixed query panel against a
# growing corpus: with the cap the pair frame is panel x corpus, linear
# in N forever. CAP = 5000 spans every driver SF's full doc_id range
# (sf0.001/0.01/0.1 have <= 5000 docs), so certification values there
# are bit-identical to the uncapped form; sf1/sf10 pin the panel at 50
# queries and were re-certified after the change.
RAG_QUERY_CAP = 5000
RAG_TOP_K = 3
_RAG_SALT = 32  # phase-1 fan-out of the two-phase top-k

_HV_NZ_CTES = f"""
tw AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
), hh AS (
  SELECT doc_id,
         {_WORD_HASH_SQL.format(w='word')} % {_CU.HASH_DIMS} AS dim,
         CASE WHEN ({_WORD_HASH_SQL.format(w='word')} // {_CU.HASH_DIMS}) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM tw
), nz AS (
  SELECT doc_id, dim, sum(sgn) AS w FROM hh GROUP BY doc_id, dim HAVING sum(sgn) <> 0
), nn AS (
  SELECT doc_id, sum(w * w) AS ss FROM nz GROUP BY doc_id
)
"""


@register(
    "llm_rag_retrieve_sparse",
    oracle=f"""
WITH {_HV_NZ_CTES}, q AS (
  SELECT doc_id AS qid, dim, w AS wq FROM nz WHERE doc_id % {RAG_QUERY_MOD} = 0 AND doc_id < {RAG_QUERY_CAP}
), c AS (
  SELECT doc_id AS did, dim, w AS wd FROM nz WHERE doc_id % {RAG_QUERY_MOD} <> 0 OR doc_id >= {RAG_QUERY_CAP}
), dots AS (
  SELECT qid, did, sum(wq * wd) AS num FROM q JOIN c USING (dim) GROUP BY qid, did
), sims AS (
  SELECT qid, did, num / sqrt(nq.ss * nc.ss) AS cos
  FROM dots JOIN nn nq ON nq.doc_id = qid JOIN nn nc ON nc.doc_id = did
), r AS (
  SELECT qid, did, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did ASC) AS rn
  FROM sims
)
SELECT qid AS query_doc, CAST(rn AS BIGINT) AS match_rank, did AS match_doc,
       round(cos, 6) AS cosine
FROM r WHERE rn <= {RAG_TOP_K}
""",
    doc=(
        "Sparse-vector retrieval (the RAG lookup shape): a FIXED query"
        f" panel (doc_id %% {RAG_QUERY_MOD} == 0 AND doc_id <"
        f" {RAG_QUERY_CAP}; see RAG_QUERY_CAP -- a panel that grew with"
        " the corpus made the candidate frame ~N^2/MOD, the r10 sf10"
        f" finding) retrieves its top-{RAG_TOP_K}"
        " corpus documents by cosine over hashing-trick vectors"
        " (llm_hashing_vectorizer's signed hashed counts). The query side"
        " is BROADCAST into an inverted-index join on dimension, so the"
        " corpus never shuffles on the 64-value dim key; dot products are"
        " integer sums (order-free, oracle-bit-exact) normalized by one"
        " sqrt of an integer product. Both sides CARRY their squared norm"
        " through the join (norms attach to nz itself, an nz-scale"
        " doc_id join), so the (qid, did) candidate frame -- the"
        " largest intermediate -- is never re-shuffled against a norm"
        " table. Top-k runs TWO-PHASE: per-salt"
        " partial top-k bounds every aggregation group, then a final merge"
        " over <= salt*k candidate rows per query -- no corpus-wide window"
        " partition, the straggler a naive PARTITION BY query would create"
        " at 100 TB. Scale note: HASH_DIMS=64 fits the test vocabulary; a"
        " production corpus raises it to 2^18+, which only widens the"
        " broadcast, never the shuffle."
    ),
)
def llm_rag_retrieve_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # one md5 per token: spread off a one-split local scan first
    tw = DD.spread_off_file_layout(t.documents, "doc_id").select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")
    ).select("doc_id", TX.word_hash(F.col("word")).alias("_h"))
    h = tw.select(
        "doc_id",
        (F.col("_h") % _CU.HASH_DIMS).alias("dim"),
        F.when(F.expr(f"(_h div {_CU.HASH_DIMS}) % 2") == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    # Attach the squared norm to every nz row BEFORE the inverted-index
    # join, so both sides CARRY their norm through it. The norm table
    # joins onto nz (nz-vs-nn on doc_id: broadcast at fixture scale, a
    # co-partitioned nz-scale join at 100 TB) -- NEVER onto the
    # (qid, did) candidate frame, the LARGEST intermediate in the
    # query, which a post-hoc norm join would re-shuffle on a
    # corpus-sized key. A doc_id window would also work but pays an
    # nz exchange+sort even at fixture scale (measured +25% on the
    # heaviest sf1 query); the join form is free locally and the same
    # exchange class at scale.
    nz = persist_artifact(
        h.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("w"))
        .filter(F.col("w") != 0)
    )
    nn = nz.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("ss"))
    nzs = nz.join(nn, ["doc_id"])
    is_query = (F.col("doc_id") % RAG_QUERY_MOD == 0) & (
        F.col("doc_id") < RAG_QUERY_CAP
    )
    q = nzs.filter(is_query).select(
        F.col("doc_id").alias("qid"), "dim", F.col("w").alias("wq"),
        F.col("ss").alias("ssq"),
    )
    c = nzs.filter(~is_query).select(
        F.col("doc_id").alias("did"), "dim", F.col("w").alias("wd"),
        F.col("ss").alias("ssd"),
    )
    # Broadcast the query vectors: the corpus side streams map-side into
    # the inverted-index join and the (qid, did) partial-agg -- no
    # shuffle keyed on the low-cardinality dim. ssq/ssd are constant per
    # (qid, did) group, so max() recovers them without a join.
    dots = (
        c.join(F.broadcast(q), ["dim"])
        .groupBy("qid", "did")
        .agg(
            F.sum(F.col("wq") * F.col("wd")).alias("num"),
            F.max("ssq").alias("ssq"),
            F.max("ssd").alias("ssd"),
        )
    )
    sims = dots.select(
        "qid",
        "did",
        (F.col("num") / F.sqrt(F.col("ssq") * F.col("ssd"))).alias("cos"),
    )
    # Two-phase deterministic top-k. Phase 1 bounds each group at
    # (corpus/salt) rows; phase 2 merges <= salt*k candidates per query.
    # sort_array descending over struct(cos, -did) = cos DESC, did ASC
    # (cos is never -0.0: the integer numerator maps 0 -> +0.0).
    cand_struct = F.struct(
        F.col("cos").alias("cos"),
        (-F.col("did")).alias("ndid"),
        F.col("did").alias("did"),
    )
    phase1 = (
        sims.withColumn("_salt", F.pmod(F.col("did"), F.lit(_RAG_SALT)))
        .groupBy("qid", "_salt")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(cand_struct), asc=False), 1, RAG_TOP_K
            ).alias("top")
        )
    )
    merged = (
        phase1.select("qid", F.explode("top").alias("s"))
        .groupBy("qid")
        .agg(
            F.slice(
                F.sort_array(F.collect_list("s"), asc=False), 1, RAG_TOP_K
            ).alias("top")
        )
    )
    return merged.select(
        F.col("qid").alias("query_doc"), F.posexplode("top").alias("pos", "s")
    ).select(
        "query_doc",
        (F.col("pos") + 1).cast("bigint").alias("match_rank"),
        F.col("s.did").alias("match_doc"),
        F.round(F.col("s.cos"), 6).alias("cosine"),
    )


# ---------------------------------------------------------------------------
# Sliding-window duplicated-span detection (exact-substring dedup shape)
# ---------------------------------------------------------------------------
SPAN_L = 8  # sliding gram width in tokens


@register(
    "llm_substring_dedup_spans",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), grams AS (
  SELECT doc_id, s,
         md5(array_to_string(list_slice(t, s, s + {SPAN_L} - 1), ' ')) AS gh
  FROM toks, unnest(range(1, greatest(len(t) - {SPAN_L} + 1, 0) + 1)) AS u(s)
), dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1
), covered AS (
  SELECT DISTINCT doc_id, s + o AS p
  FROM grams JOIN dup USING (gh), unnest(range(0, {SPAN_L})) AS v(o)
), cov AS (
  SELECT doc_id, count(*) AS n_dup_tokens FROM covered GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(cov.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       round(CAST(coalesce(cov.n_dup_tokens, 0) AS DOUBLE)
             / greatest(len(t.t), 1), 6) AS dup_frac,
       coalesce(cov.n_dup_tokens, 0) * 5 >= len(t.t) AS flagged
FROM toks t LEFT JOIN cov ON cov.doc_id = t.doc_id
WHERE len(t.t) > 0
""",
    doc=(
        "Sliding-window duplicated-SPAN detection -- the exact-substring"
        " dedup shape (duplicated long substrings marked for removal"
        " wherever they occur, the technique suffix-array dedup pipelines"
        f" apply to training corpora), windowed at {SPAN_L} tokens with"
        " stride 1. Every corpus-duplicated gram marks the token positions"
        " it covers; per-doc output is coverage stats plus a >=20% flag"
        " (integer-compared: n_dup*5 >= n_tokens). The scale contract:"
        " gram counting is a map-side-combining groupBy; the position"
        " EXPANSION (x8) runs only over duplicated grams -- a rare subset"
        " on a healthy corpus -- and the distinct shuffles (doc_id,"
        " position) pairs only for covered positions. Complements"
        " llm_segment_dedup (fixed windows, whole-segment drop) with the"
        " sliding-window within-segment-boundary-blind form."
    ),
)
def llm_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = DD.spread_off_file_layout(t.documents, "doc_id")
    toked = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    n_grams = F.greatest(F.size("toks") - (SPAN_L - 1), F.lit(0))
    grams = (
        toked.select(
            "doc_id",
            "toks",
            F.explode(
                # sequence(1, 0) descends -> guard zero-gram docs
                F.when(
                    n_grams > 0, F.sequence(F.lit(1), n_grams)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s").cast("bigint").alias("s"),
            F.md5(
                F.array_join(F.slice(F.col("toks"), F.col("s"), SPAN_L), " ")
            ).alias("gh"),
        )
    )
    grams = persist_artifact(grams)  # read twice: count + join-back
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("gh")
    )
    covered = (
        grams.join(dup, ["gh"])
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + (SPAN_L - 1))
            ).alias("p"),
        )
        .distinct()
    )
    cov = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_tokens")
    )
    base = toked.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return base.join(cov, ["doc_id"], "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("bigint").alias("n_dup_tokens"),
        F.round(
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("dup_frac"),
        (
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)) * 5 >= F.col("n_tokens")
        ).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# BPE merge-round pair counts (the tokenizer-training kernel)
# ---------------------------------------------------------------------------
BPE_TOP_PAIRS = 20


@register(
    "llm_bpe_pair_counts",
    oracle=f"""
WITH tw AS (
  SELECT unnest({_TOKENS_SQL}) AS word FROM documents
), vocab AS (
  SELECT word, count(*) AS wcnt FROM tw GROUP BY word
), pairs AS (
  SELECT substr(word, i, 1) || '|' || substr(word, i + 1, 1) AS pair,
         sum(wcnt) AS n_occurrences
  FROM vocab, unnest(range(1, length(word))) AS u(i)
  WHERE length(word) >= 2
  GROUP BY 1
)
SELECT pair, CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM pairs ORDER BY n_occurrences DESC, pair ASC LIMIT {BPE_TOP_PAIRS}
""",
    doc=(
        "One BPE merge round -- the kernel a distributed tokenizer"
        " trainer repeats: count adjacent-symbol pairs and pick the most"
        " frequent to merge. The scale trick (exactly what real BPE"
        " trainers do) is aggregating the corpus to its frequency-weighted"
        " VOCABULARY first: pair enumeration then runs over distinct words"
        " x their counts, a table orders of magnitude smaller than the"
        " token stream, so each additional merge round costs vocab-sized"
        " work, not corpus-sized. Top pairs come out via"
        " TakeOrderedAndProject (deterministic count DESC, pair ASC tie"
        " break), never a global sort."
    ),
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    vocab = (
        t.documents.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .filter(F.length("word") >= 2)
    )
    pairs = vocab.select(
        "wcnt",
        "word",
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
    ).select(
        "wcnt",
        F.concat_ws(
            "|",
            F.expr("substr(word, i, 1)"),
            F.expr("substr(word, i + 1, 1)"),
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("wcnt").cast("bigint").alias("n_occurrences"))
    return agg.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(BPE_TOP_PAIRS)


# ---------------------------------------------------------------------------
# Bigram-LM likelihood scoring (CCNet-style LM quality signal)
# ---------------------------------------------------------------------------
LM_LOW_THRESH = 0.033  # flags the unlikely tail on this corpus (~p5)


@register(
    "llm_bigram_lm_score",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(str_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, i AS pos, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram
  FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
), c12 AS (
  SELECT bigram, w1, count(*) AS c12 FROM bg GROUP BY bigram, w1
), c1 AS (
  SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
), v AS (
  SELECT count(DISTINCT w1) AS v FROM bg
), probs AS (
  SELECT bigram, (c12 + 1) / CAST(c1 + v AS DOUBLE) AS p
  FROM c12 JOIN c1 USING (w1), v
), sc AS (
  SELECT doc_id, count(*) AS n_bigrams,
         list_reduce(list(p ORDER BY pos), (a, b) -> a + b) AS sum_p
  FROM bg JOIN probs USING (bigram) GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(sum_p / n_bigrams, 6) AS mean_transition_p,
       sum_p / n_bigrams < {LM_LOW_THRESH} AS low_likelihood
FROM sc
""",
    doc=(
        "LM-likelihood quality signal (the CCNet shape: score every doc"
        " under a language model fit on the corpus, flag the unlikely"
        " tail): a Laplace-smoothed bigram LM is fit in ONE pass (bigram"
        " + prefix counts, vocabulary size as a one-row broadcast), and"
        " each document scores its MEAN TRANSITION PROBABILITY. The"
        " deliberate deviation from log-perplexity: ln() is libm-ULP-"
        "dependent across engines, so the score is the mean of exact"
        " rational probabilities summed by a deterministic ordered fold"
        " -- collect (pos, p), sort, left-to-right F.aggregate, which"
        " DuckDB mirrors with list_reduce(list(p ORDER BY pos)) --"
        " making the hash oracle bit-exact where a log-sum never could"
        " be. Monotonicity vs perplexity is preserved for ranking the"
        " tail. At 100 TB: the LM table is vocab-bounded (hashed tiers"
        " when vocab explodes), scoring is a broadcast-join + per-doc"
        " local fold, and the flag threshold compares the UNROUNDED"
        " double identically in both engines."
    ),
)
def llm_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = DD.spread_off_file_layout(t.documents, "doc_id").select(
        "doc_id", TX.tokens(F.lower(F.col("text"))).alias("t")
    )
    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("t", i), F.element_at("t", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The persisted corpus-sized artifact carries ONLY (doc_id, pos,
    # bigram) (r13: the narrower projection the round record flagged):
    # w1 is a byte-for-byte prefix of bigram -- tokens are \s+-split so
    # they cannot contain the ' ' separator, and bigram therefore holds
    # exactly one space -- so persisting it duplicated one token column
    # across the largest intermediate in the query.
    bg = persist_artifact(
        toks.select("doc_id", F.posexplode(bigrams).alias("pos", "bigram")).select(
            "doc_id",
            (F.col("pos") + 1).cast("bigint").alias("pos"),
            "bigram",
        )
    )
    # group by bigram alone -- w1 is functionally dependent on bigram,
    # so the groups (and counts) are identical while the shuffle key
    # narrows from two strings to one; w1 is re-derived on the already-
    # reduced vocab-bounded frame.
    c12 = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn("w1", F.substring_index("bigram", " ", 1))
    )
    # c1 and V are DERIVED from c12 instead of re-scanning the corpus-
    # sized bigram stream (r13): c1(w1) = sum of c12 over that prefix's
    # bigrams (exact integer identity), and V = |distinct w1| = the c1
    # row count. The r12 form paid two more full passes over bg -- at
    # 100 TB that is two corpus-sized scans + one expand-based distinct
    # replaced by vocab-bounded aggregations over the already-reduced
    # c12 frame. Values are bit-identical by construction.
    c12 = persist_artifact(c12)
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = c1.agg(F.count(F.lit(1)).alias("v"))
    probs = (
        c12.join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .select(
            "bigram",
            (
                (F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double")
            ).alias("p"),
        )
    )
    scored = (
        bg.join(probs, ["bigram"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("pos").alias("pos"), F.col("p").alias("p")
                            )
                        )
                    ),
                    lambda s: s["p"],
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("sum_p"),
        )
    )
    mean_p = F.col("sum_p") / F.col("n_bigrams")
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(mean_p, 6).alias("mean_transition_p"),
        (mean_p < LM_LOW_THRESH).alias("low_likelihood"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (hashed-unigram likelihood ratio)
# ---------------------------------------------------------------------------
DSIR_NFEAT = 1024       # hashed feature space (DSIR's hashed n-gram trick)
DSIR_SCALE = 1_000_000  # fixed-point scale: weight 1e6 == corpus-average

_DSIR_MODEL_CTES = f"""
tw AS (
  SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS word FROM documents
), feats AS (
  SELECT doc_id, lang, {_WORD_HASH_SQL.format(w='word')} % {DSIR_NFEAT} AS f
  FROM tw
), model AS (
  SELECT f, count(*) AS rcnt,
         coalesce(sum(CASE WHEN lang = 'en' THEN 1 END), 0) AS tcnt
  FROM feats GROUP BY f
), tot AS (
  SELECT CAST(sum(rcnt) + {DSIR_NFEAT} AS HUGEINT) AS rtot,
         CAST(sum(tcnt) + {DSIR_NFEAT} AS HUGEINT) AS ttot
  FROM model
), weights AS (
  SELECT f,
         CAST((((tcnt + 1)::HUGEINT * rtot * {DSIR_SCALE})
               // ((rcnt + 1)::HUGEINT * ttot)) AS BIGINT) AS w
  FROM model, tot
)
"""


@register(
    "llm_importance_weights_dsir",
    oracle=f"""
WITH {_DSIR_MODEL_CTES}, scored AS (
  SELECT feats.doc_id, count(*) AS n_tokens, sum(w) AS score_raw
  FROM feats JOIN weights USING (f)
  GROUP BY feats.doc_id
)
SELECT s.doc_id, d.lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(score_raw AS BIGINT) AS score_raw,
       ((2 * score_raw + n_tokens) // (2 * n_tokens)) / 1000000.0
         AS importance,
       score_raw >= {DSIR_SCALE} * n_tokens AS kept
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
""",
    doc=(
        "DSIR-style importance weighting (Data Selection via Importance"
        " Resampling, hashed-feature form): fit a target unigram model"
        " (the 'en' slice plays the high-quality target domain) and a raw"
        " corpus model over a HASHED feature space of"
        f" {DSIR_NFEAT} buckets, weight each feature by the add-one-"
        "smoothed likelihood ratio in fixed-point (1e6 == corpus-average"
        " likeness), and score each document by the INTEGER sum of its"
        " token weights -- order-free, so the oracle hash-matches; the"
        " keep flag compares integers (score_raw >= SCALE * n_tokens),"
        " never the rounded display ratio. At 100 TB this is the DSIR"
        " shape exactly: ONE aggregation fits both models (bounded at"
        " NFEAT rows -- no vocabulary table), the weight table broadcasts"
        " everywhere, and scoring is a map-side join + partial agg pass"
        " over the corpus. The fixed-point ratio is an EXACT rational"
        " floor -- DECIMAL(38,0) DIV on the Spark side, HUGEINT // in"
        " the oracle -- because floor(double) flipped on a ULP boundary"
        " between the engines at the 50k-doc sf1 snapshot (r9)."
    ),
)
def llm_importance_weights_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # one md5 per token, twice over (model fit + scoring): spread off a
    # one-split local scan and persist the hashed feature stream so the
    # two consumers share it
    feats = persist_artifact(
        DD.spread_off_file_layout(t.documents, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.explode(TX.tokens(F.col("text"))).alias("word"),
        )
        .select(
            "doc_id", "lang", (TX.word_hash(F.col("word")) % DSIR_NFEAT).alias("f")
        )
    )
    model = feats.groupBy("f").agg(
        F.count(F.lit(1)).alias("rcnt"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == "en", 1)), F.lit(0)
        ).alias("tcnt"),
    )
    # Model totals via a global window over the NFEAT-bounded model
    # frame, not a second model reference through agg+crossJoin: AQE
    # does not stage-reuse a twice-referenced subtree (r13 finding,
    # q11), so the broadcast-total form re-aggregated the whole cached
    # corpus-sized feature stream a second time. The single-partition
    # window covers <= NFEAT rows (a constant); integer sums are
    # order-free, values bit-identical.
    tot_w = W.partitionBy()
    model = model.select(
        "f",
        "rcnt",
        "tcnt",
        (F.sum("rcnt").over(tot_w) + DSIR_NFEAT)
        .cast("decimal(38,0)")
        .alias("rtot"),
        (F.sum("tcnt").over(tot_w) + DSIR_NFEAT)
        .cast("decimal(38,0)")
        .alias("ttot"),
    )
    # exact rational floor, never floor(double): the r9 sf1 run caught a
    # ULP-boundary flip between the engines' double pipelines at 50k
    # docs (a weight off by 1 shifts score_raw for every doc holding
    # that feature). DECIMAL(38,0) DIV here == HUGEINT // in the oracle;
    # the triple product stays far under 38 digits at any certified SF.
    weights = model.select(
        "f",
        F.expr(
            f"CAST(((CAST(tcnt AS DECIMAL(38,0)) + 1) * rtot * {DSIR_SCALE})"
            f" DIV ((CAST(rcnt AS DECIMAL(38,0)) + 1) * ttot) AS BIGINT)"
        ).alias("w"),
    )
    scored = (
        feats.join(F.broadcast(weights), ["f"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w").cast("bigint").alias("score_raw"),
        )
    )
    # display ratio via exact integer half-up rounding, never
    # round(double, 6): ties at the 7th digit flipped between Spark's
    # BigDecimal HALF_UP and DuckDB's binary-double rounding at sf1.
    # round(score_raw / (n_tokens*SCALE), 6) == halfup(score_raw /
    # n_tokens) / 1e6, and the final division by 1e6 of a small exact
    # integer is correctly rounded identically on both engines.
    return scored.join(t.documents.select("doc_id", "lang"), ["doc_id"]).select(
        "doc_id",
        "lang",
        "n_tokens",
        "score_raw",
        (
            F.expr("(2 * score_raw + n_tokens) DIV (2 * n_tokens)") / 1000000.0
        ).alias("importance"),
        (F.col("score_raw") >= F.lit(DSIR_SCALE) * F.col("n_tokens")).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Incremental ANN: delta batch probes the standing IVF index
# ---------------------------------------------------------------------------
def _ivf_delta_oracle(nprobe: int = 3, k: int = 5) -> str:
    """sf10-certifiable oracle for the incremental IVF probe.

    Two changes vs the r9 list-fold form, both VALUE-IDENTICAL (verified
    empirically: the two oracle texts produce byte-equal outputs at
    sf0.01/sf0.1, and DuckDB 1.0's array_cosine_similarity accumulates
    the dimension axis left-to-right in DOUBLE exactly like
    list_sum(list_transform(...)) -- 0 raw-bit mismatches on real
    embedding pairs -- which is also the Spark side's certified
    accumulation order, operators/similarity.py:79):

    1. cosines run on fixed DOUBLE[DIM] arrays via the NATIVE
       array_cosine_similarity kernel instead of interpreted per-pair
       list lambdas -- the base x centroids assignment at sf10 is 190k
       x 950 = ~180M cosines, a ~100x constant-factor blowup as
       lambdas (the reason this query was the one sf10 certification
       exclusion in SCALE_r10.json);
    2. the base assignment's 180M-row row_number window becomes a
       streaming arg_max over a BIGINT-packed (csim DESC, cid ASC) key:
       round(csim, 9) lands on the double nearest k*1e-9, so
       round(csim*1e9) recovers the integer k exactly (order-preserving,
       injective); k * 2^32 - cid then totals-orders ties by ascending
       cid. |k| <= 1e9 and cid < 2^32 keep the pack inside BIGINT.
    """
    cos9q = _LL._cos_sql("x.v", "c.cv", 9)  # delta probe: C-sized window
    acos = f"array_cosine_similarity(x.va, c.cva)"
    cos6 = "round(array_cosine_similarity(q.va, n.va), 6)"
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         CAST(list_transform(embedding, x -> x::DOUBLE)
              AS DOUBLE[{_SIM_DIM}]) AS va
  FROM embeddings
), base AS (
  SELECT * FROM e WHERE vec_id % {DELTA_MOD} <> 0
), delta AS (
  SELECT * FROM e WHERE vec_id % {DELTA_MOD} = 0
), sg AS (
  -- adaptive quantizer: S sub-seed groups per label so C ~ n_base/200
  -- (S == 1 at the certification SFs -- exactly the min-per-label
  -- codebook; mirrors similarity.ivf_probe_delta cell_target=200)
  SELECT greatest(1, count(*) // 2000) AS s FROM base
), cents AS (
  SELECT vec_id AS cid, v AS cv, va AS cva FROM e
  WHERE vec_id IN (SELECT min(vec_id) FROM embeddings, sg
                   WHERE vec_id % {DELTA_MOD} <> 0
                   GROUP BY label, vec_id % sg.s)
), bass AS (
  SELECT x.vec_id,
         arg_max(c.cid,
                 CAST(round(round({acos}, 9) * 1000000000.0) AS BIGINT)
                   * 4294967296 - c.cid) AS cell
  FROM base x CROSS JOIN cents c
  GROUP BY x.vec_id
), probes AS (
  SELECT qid, cell FROM (
    SELECT x.vec_id AS qid, c.cid AS cell,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {cos9q} DESC, c.cid) AS crank
    FROM delta x CROSS JOIN cents c
  ) WHERE crank <= {nprobe}
), cand AS (
  SELECT DISTINCT p.qid, a.vec_id AS nid
  FROM probes p JOIN bass a ON p.cell = a.cell
), scored AS (
  SELECT c.qid, c.nid, {cos6} AS cosine
  FROM cand c
  JOIN e q ON q.vec_id = c.qid
  JOIN e n ON n.vec_id = c.nid
)
SELECT qid AS query_id, nid AS neighbor_id, cosine,
       CAST(rn AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, nid) AS rn
  FROM scored
) WHERE rn <= {k}
"""


@register(
    "llm_ann_incremental_ivf",
    oracle=_ivf_delta_oracle(),
    doc=(
        "Incremental ANN (the embeddings twin of"
        " llm_neardup_incremental_lsh): the newly-arrived delta batch"
        f" (vec_id %% {DELTA_MOD} == 0) probes the STANDING IVF index"
        " built from the base corpus only -- per-batch cost scales with"
        " delta x nprobe x CELL WIDTH, not the whole corpus, which is"
        " how a living dataset absorbs daily embedding drops without"
        " re-indexing. Cell width is what the coarse quantizer"
        " controls: production IVF grows its cell COUNT with the corpus"
        " (C ~ N / target_cell_size) so width -- and per-query cost --"
        " stays ~constant, and since r9 session-7 the quantizer here"
        " DOES that: each synthetic label splits into S = max(1,"
        " n_base // 2000) deterministic sub-seed groups (vec_id % S),"
        " min base vec_id per group, so C ~ n_base/200. S == 1 at the"
        " certification SFs (bit-identical to the original"
        " min-per-label codebook); at sf1/sf10 C grows to ~90/~950,"
        " keeping the candidate set ~delta x nprobe x 200. The earlier"
        " PINNED 10-cell form measured 96.7x records at the second"
        " decade (compound delta x width growth, classed query_set)"
        " and a 400M-row disk-spill blowup at the third -- the decade"
        " probes now measure the adaptive form, classed linear in"
        " delta size. The base"
        " cell assignment is the build-once artifact (at 100 TB, a"
        " bucketed-by-cell table written per snapshot); delta vectors"
        " rank cells MAP-SIDE against the in-closure codebook (the same"
        " zero-N-x-C shape as llm_ann_ivf_topk), probe nprobe=3 cells,"
        " and exact-re-rank. No self-hit filter is needed -- the delta"
        " is disjoint from the base by construction. The oracle replays"
        " the base/delta split with the shared deterministic quantizer"
        " (GROUP BY label, vec_id %% S; S from the same base count)."
    ),
)
def llm_ann_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM

    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.ivf_probe_delta(t.embeddings, k=5, delta_mod=DELTA_MOD, nprobe=3)


# Certification panel cap for the incremental HYBRID: keeps the brute
# oracle at <= 200 delta queries at every generated scale (the
# RAG_QUERY_CAP precedent -- an uncapped panel grows with the corpus and
# makes the sf10 oracle a 1.9B-pair scan). Production: query_cap=None.
DELTA_QUERY_CAP = 4000


@register(
    "llm_ann_incremental_hybrid",
    oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id % {DELTA_MOD} = 0 AND vec_id < {DELTA_QUERY_CAP}),
pairs AS (
  SELECT q.qid, e.vec_id AS nid,
         round(
           list_sum(list_transform(range(1, len(q.qv) + 1),
                    i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                    i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6)
           AS cosine
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id % {DELTA_MOD} <> 0
)
SELECT qid AS query_id, nid AS neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
  FROM pairs
) WHERE rn <= 5
""",
    doc=(
        "Floor-carrying INCREMENTAL ANN (r13): the living-dataset twin"
        " of llm_ann_ivf_hybrid_topk. The delta batch probes the"
        " standing IVF index exactly as llm_ann_incremental_ivf does,"
        " UNIONED with the int8 two-phase pool of the delta queries"
        " against the base corpus, one shared exact re-rank"
        " (similarity.ivf_sq8_hybrid_delta). The probe leg's per-batch"
        " cost scales with delta x nprobe x cell width; the net leg is"
        " one quantized (1 byte/dim) base scan per batch -- the price"
        " of a per-query min-recall guarantee that IVFROUTE_r13.json"
        " shows no routing signal can deliver. Certified against the"
        " brute-force oracle over (capped delta x base): like SQ8, the"
        " whole approximate machinery must be output-invisible. The"
        " certification panel caps delta at vec_id < 4000 (~200"
        " queries at every generated scale, the RAG_QUERY_CAP"
        " precedent); production runs uncapped."
    ),
)
def llm_ann_incremental_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM

    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.ivf_sq8_hybrid_delta(
        t.embeddings, k=5, delta_mod=DELTA_MOD, nprobe=3,
        query_cap=DELTA_QUERY_CAP,
    )


# ---------------------------------------------------------------------------
# Per-source drift report: delta batch vs standing corpus (ingestion QA)
# ---------------------------------------------------------------------------
@register(
    "llm_source_drift_report",
    oracle=f"""
WITH {_SHINGLE_CTES},
flagged AS (
  SELECT doc_id, source, len({_TOKENS_SQL}) AS n_tok,
         doc_id % {DELTA_MOD} = 0 AS isd
  FROM documents
), stats AS (
  SELECT source,
         CAST(count(*) FILTER (NOT isd) AS BIGINT) AS n_base,
         CAST(count(*) FILTER (isd) AS BIGINT) AS n_delta,
         CASE WHEN count(*) FILTER (NOT isd) > 0
              THEN (1000 * sum(n_tok) FILTER (NOT isd))
                   // count(*) FILTER (NOT isd) END AS avg_tok_base_milli,
         CASE WHEN count(*) FILTER (isd) > 0
              THEN (1000 * sum(n_tok) FILTER (isd))
                   // count(*) FILTER (isd) END AS avg_tok_delta_milli
  FROM flagged GROUP BY source
), ex AS (
  SELECT dd.source, u.g, d.doc_id % {DELTA_MOD} = 0 AS isd
  FROM docs d JOIN documents dd USING (doc_id), unnest(d.xs) AS u(g)
), per_g AS (
  SELECT source, g,
         max(CASE WHEN NOT isd THEN 1 ELSE 0 END) AS hb,
         max(CASE WHEN isd THEN 1 ELSE 0 END) AS hd
  FROM ex GROUP BY source, g
), nov AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_delta_grams,
         CAST(sum(CASE WHEN hb = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel_grams
  FROM per_g WHERE hd = 1 GROUP BY source
)
SELECT s.source, s.n_base, s.n_delta,
       CAST(s.avg_tok_base_milli AS BIGINT) AS avg_tok_base_milli,
       CAST(s.avg_tok_delta_milli AS BIGINT) AS avg_tok_delta_milli,
       n.n_delta_grams, n.n_novel_grams,
       CAST((1000 * n.n_novel_grams) // nullif(n.n_delta_grams, 0) AS BIGINT)
         AS novelty_milli
FROM stats s LEFT JOIN nov n USING (source)
""",
    doc=(
        "Per-source DRIFT report (the ingestion QA gate a living corpus"
        f" runs on every delta batch, doc_id %% {DELTA_MOD} == 0 playing"
        " the batch as in the incremental probes): base vs delta doc"
        " counts, integer milli mean token lengths on both sides, and"
        " the delta's shingle-vocabulary NOVELTY per source (fraction of"
        " the delta's distinct 3-gram shingles unseen in that source's"
        " base) -- a length-mean shift or a novelty spike is the"
        " earliest signal of a scraper change, encoding bug, or topic"
        " drift, caught BEFORE the batch pollutes the release. Plan: the"
        " count/mean stats are one conditional hash aggregation on a"
        " pruned scan; the novelty side reuses the source-carrying"
        " persisted shingle artifact, collapses (source, gram, side)"
        " presence map-side in one gram-keyed aggregation, and rolls up"
        " per source -- corpus-linear, output rows = sources. At 100 TB"
        " the report costs ~one shingle pass over base+delta; the oracle"
        " replays both sides with shared CTEs."
    ),
)
def llm_source_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    isd = F.col("doc_id") % DELTA_MOD == 0
    flagged = t.documents.select(
        "source", TX.token_count_ws(F.col("text")).alias("n_tok"), isd.alias("isd")
    )
    base_n = F.sum(F.when(~F.col("isd"), 1).otherwise(0))
    delta_n = F.sum(F.when(F.col("isd"), 1).otherwise(0))
    base_tok = F.sum(F.when(~F.col("isd"), F.col("n_tok")).otherwise(0))
    delta_tok = F.sum(F.when(F.col("isd"), F.col("n_tok")).otherwise(0))
    stats = (
        flagged.groupBy("source")
        .agg(
            base_n.cast("bigint").alias("n_base"),
            delta_n.cast("bigint").alias("n_delta"),
            base_tok.alias("_bt"),
            delta_tok.alias("_dt"),
        )
        .select(
            "source",
            "n_base",
            "n_delta",
            F.expr(
                "CASE WHEN n_base > 0 THEN CAST((1000 * _bt) DIV n_base"
                " AS BIGINT) END"
            ).alias("avg_tok_base_milli"),
            F.expr(
                "CASE WHEN n_delta > 0 THEN CAST((1000 * _dt) DIV n_delta"
                " AS BIGINT) END"
            ).alias("avg_tok_delta_milli"),
        )
    )
    sh = DD.shingled_docs(t.documents, carry=("source",))
    ex = sh.select(
        "source", F.explode("xs").alias("g"), isd.alias("isd")
    )
    per_g = ex.groupBy("source", "g").agg(
        F.max(F.when(~F.col("isd"), 1).otherwise(0)).alias("hb"),
        F.max(F.when(F.col("isd"), 1).otherwise(0)).alias("hd"),
    )
    nov = (
        per_g.filter(F.col("hd") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_delta_grams"),
            F.sum(F.when(F.col("hb") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel_grams"),
        )
    )
    return stats.join(nov, "source", "left").select(
        "source",
        "n_base",
        "n_delta",
        "avg_tok_base_milli",
        "avg_tok_delta_milli",
        "n_delta_grams",
        "n_novel_grams",
        F.expr(
            "CAST((1000 * n_novel_grams) DIV nullif(n_delta_grams, 0)"
            " AS BIGINT)"
        ).alias("novelty_milli"),
    )
