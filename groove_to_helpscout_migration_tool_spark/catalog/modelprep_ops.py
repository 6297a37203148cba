"""Model-prep operators (round 7): the stages between a curated corpus
and a training run.

  - llm_quality_classifier_score: hashed linear quality-classifier
    INFERENCE over the corpus -- the fasttext-style keep/drop scorer
    production pipelines run over every document, as a map-only plan.
  - llm_mixture_epochs: data-mixing epoch plan (temperature-weighted
    source targets with a repeat-epoch cap) materialized to one
    (doc_id, epoch) row per scheduled traversal -- the sampling plan
    data-constrained scaling recipes prescribe.
  - llm_bpe_train_merges: the iterative BPE tokenizer-training loop
    (N merge rounds), each round one pair-count aggregation + a
    1-row argmax + an expression-only merge fold. The DuckDB oracle
    replays all rounds via an INDEPENDENT algorithm (run-parity
    window merge), so the loop is certified end-to-end.

Reference behavior mirrored: the reference migrates/validates text
payloads one row at a time (APIHelper.php pagination; no bulk ML
stages) -- these operators are the Spark-first extensions a 100 TB
training-data pipeline layers on the same tables, with the same
oracle-paired correctness contract as the rest of the catalog.
"""

from __future__ import annotations

import hashlib as _hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import cache
from ..registry import register
from ..session import load_tables
from . import llm_ops as _LL

_TOKENS_SQL = _LL._TOKENS_SQL
_WORD_HASH_SQL = _LL._WORD_HASH_SQL
_DOC_KEY_SQL = _LL._DOC_KEY_SQL


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fasttext-shaped corpus scorer)
# ---------------------------------------------------------------------------
QCLF_DIMS = 64  # same hashed feature space as llm_hashing_vectorizer


def _qclf_weight(d: int) -> int:
    """Deterministic milli-weight in [-1000, 1000] from md5('qclf:d') --
    the md5-literal scheme every salted decision in this catalog uses
    (the JL matrix, the sample keys), so the 'trained' model is
    reproducible from the code alone and enters BOTH engines as the
    same literal."""
    h = _hashlib.md5(f"qclf:{d}".encode()).hexdigest()
    return int(h[:15], 16) % 2001 - 1000


_QCLF_W = [_qclf_weight(d) for d in range(QCLF_DIMS)]
_QCLF_BIAS = int(_hashlib.md5(b"qclf:bias").hexdigest()[:15], 16) % 2001 - 1000
_QCLF_W_SQL = "[" + ", ".join(str(w) for w in _QCLF_W) + "]"

# Reusable oracle fragments (llm_dedup_keep_best in audit_ops scores
# duplicates with the SAME model -- one literal, never two drifting
# copies): the weight-vector CTE and the per-document score expression,
# which expects `wv` in scope via `..., w` cross join.
QCLF_W_CTE_SQL = f"w AS (SELECT {_QCLF_W_SQL} AS wv)"
QCLF_SCORE_SQL = f"""{_QCLF_BIAS} + coalesce(list_sum(list_transform({_TOKENS_SQL}, t ->
           (CASE WHEN (({_WORD_HASH_SQL.format(w='t')}) // {QCLF_DIMS}) % 2 = 0
                 THEN 1 ELSE -1 END)
           * wv[(({_WORD_HASH_SQL.format(w='t')}) % {QCLF_DIMS}) + 1])), 0)"""


def qclf_score(toks: F.Column) -> F.Column:
    """bigint milli-score of a token array under the md5-derived linear
    model -- the Spark twin of QCLF_SCORE_SQL. Per-token contribution:
    sign from the hash bit just above the dim bits (shiftright keeps it
    integer-exact -- a float division of a 60-bit hash would lose the
    parity bit), weight by dim lookup into the literal array."""
    wv = F.lit(_QCLF_W)  # 64-int literal array: the broadcast-free model

    def _contrib(tok: F.Column) -> F.Column:
        hh = TX.word_hash(tok)
        sgn = F.when(F.shiftright(hh, 6) % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
        return sgn * F.element_at(wv, (hh % QCLF_DIMS + 1).cast("int"))

    return F.lit(_QCLF_BIAS) + F.aggregate(
        F.transform(toks, _contrib),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


@register(
    "llm_quality_classifier_score",
    oracle=f"""
WITH {QCLF_W_CTE_SQL}, scored AS (
  SELECT doc_id,
         len({_TOKENS_SQL}) AS n_toks,
         {QCLF_SCORE_SQL}
           AS score_milli
  FROM documents, w
)
SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(score_milli AS BIGINT) AS score_milli,
       score_milli >= 0 AS keep
FROM scored
""",
    doc=(
        "Hashed linear quality-classifier INFERENCE (the fasttext-shaped"
        " keep/drop scorer production corpora run on every document):"
        " each token contributes sign(hash) * weight[hash mod"
        f" {QCLF_DIMS}] milli-units, plus a bias -- the same signed"
        " hashing-trick feature space as llm_hashing_vectorizer, so the"
        " 'model' is a dense weight vector with NO vocabulary table."
        " Weights are md5-derived milli-integers embedded as the same"
        " literal in both engines (all-integer score, no float-sum order"
        " dependence; keep = score >= 0 replaces the sigmoid, which is"
        " monotone and cross-engine-unsafe in exp()). Plan: MAP-ONLY --"
        " one pruned scan, the entire classifier runs inside a single"
        " projection with zero Exchange; at 100 TB inference costs"
        " exactly one pass at scan speed, embarrassingly parallel, the"
        " plan shape a broadcast-weights classifier should have."
    ),
)
def llm_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = TX.tokens(F.col("text"))
    score = qclf_score(toks)
    return t.documents.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_toks"),
        score.cast("bigint").alias("score_milli"),
        (score >= 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Data-mixing epoch plan (temperature targets + repeat-epoch cap)
# ---------------------------------------------------------------------------
MIX_MAX_EPOCHS = 4  # data-constrained repeat cap (returns decay past ~4)
_MIXEP_KEY_SQL = _DOC_KEY_SQL.format(salt="mixep")


@register(
    "llm_mixture_epochs",
    oracle=f"""
WITH dt AS (
  SELECT doc_id, source, len({_TOKENS_SQL}) AS dtok FROM documents
), s AS (
  SELECT source, sum(dtok) AS stok,
         CAST(floor(sqrt(CAST(sum(dtok) AS DOUBLE))) AS BIGINT) AS sw
  FROM dt GROUP BY source
), tot AS (
  SELECT sum(stok) AS n_total, sum(sw) AS w_total FROM s
), plan AS (
  SELECT source, stok,
         (n_total::HUGEINT * sw) // (2::HUGEINT * w_total) AS target
  FROM s, tot
), rates AS (
  SELECT source, stok,
         least({MIX_MAX_EPOCHS}, target // stok) AS full_epochs,
         CASE WHEN target // stok >= {MIX_MAX_EPOCHS} THEN 0
              ELSE (1000::HUGEINT * (target % stok)) // stok END AS part_permille
  FROM plan
)
SELECT d.doc_id, d.source, CAST(e.epoch AS BIGINT) AS epoch
FROM dt d
JOIN rates r USING (source)
CROSS JOIN LATERAL unnest(range(1,
    CAST(r.full_epochs
         + CASE WHEN {_MIXEP_KEY_SQL} % 1000 < r.part_permille
                THEN 1 ELSE 0 END AS BIGINT) + 1)) AS e(epoch)
""",
    doc=(
        "Data-mixing epoch plan (the sampling schedule data-constrained"
        " scaling recipes prescribe): per-source token targets follow the"
        " T=2 temperature rule (weight ~ sqrt(source tokens), total"
        " budget = half the corpus tokens), each source repeats"
        " floor(target/size) full epochs CAPPED at"
        f" {MIX_MAX_EPOCHS} (returns decay past ~4 repeats), and the"
        " fractional remainder epoch keeps a deterministic md5 per-mille"
        " subset of the source's docs. Output: one (doc_id, source,"
        " epoch) row per scheduled traversal -- the exact expansion a"
        " training loader consumes. ALL arithmetic is integer"
        " (isqrt weights, HUGEINT/DECIMAL(38) numerators, md5 buckets),"
        " so the plan is bit-identical cross-engine and reproducible at"
        " any partitioning. Plan shape: one token-count aggregate"
        " (sources-sized), rates broadcast back onto the scan, explode"
        f" by at most 1+{MIX_MAX_EPOCHS} -- no shuffle of the corpus,"
        " no rand()."
    ),
)
def llm_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    dt = t.documents.select(
        "doc_id", "source", TX.token_count_ws(F.col("text")).alias("dtok")
    )
    s = dt.groupBy("source").agg(F.sum("dtok").alias("stok")).select(
        "source",
        "stok",
        F.floor(F.sqrt(F.col("stok").cast("double"))).cast("bigint").alias("sw"),
    )
    # Totals via a global window over the O(sources) aggregate, not a
    # second reference through agg+crossJoin: AQE does not stage-reuse a
    # twice-referenced subtree (r13 finding, q11), so the broadcast-
    # total form re-ran the whole corpus tokenize+count cascade. The
    # single-partition window covers a frame bounded by the source
    # count; integer sums are order-free, values bit-identical.
    tot_w = W.partitionBy()
    rates = s.select(
        "source",
        "stok",
        "sw",
        F.sum("stok").over(tot_w).alias("n_total"),
        F.sum("sw").over(tot_w).alias("w_total"),
    ).select(
        "source",
        "stok",
        F.expr(
            "(CAST(n_total AS DECIMAL(38,0)) * sw)"
            " div (CAST(2 AS DECIMAL(38,0)) * w_total)"
        ).alias("target"),
    ).select(
        "source",
        F.least(
            F.lit(MIX_MAX_EPOCHS).cast("bigint"), F.expr("target div stok")
        ).alias("full_epochs"),
        F.when(F.expr("target div stok") >= MIX_MAX_EPOCHS, F.lit(0).cast("bigint"))
        .otherwise(
            F.expr(
                "(CAST(1000 AS DECIMAL(38,0)) * (target % stok)) div stok"
            )
        )
        .alias("part_permille"),
    )
    bucket = _LL._doc_key("mixep") % 1000
    n_ep = F.col("full_epochs") + F.when(
        bucket < F.col("part_permille"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        dt.join(F.broadcast(rates), ["source"])
        .withColumn("n_ep", n_ep)
        # sequence(1, 0) DESCENDS instead of being empty (same guard as
        # the segment table): docs scheduled for zero epochs must drop
        # BEFORE the explode
        .filter(F.col("n_ep") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("n_ep"))).alias("e"),
        )
        .select("doc_id", "source", F.col("e").cast("bigint").alias("epoch"))
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training: the iterative merge loop
# ---------------------------------------------------------------------------
BPE_ROUNDS = 6


def _bpe_oracle() -> str:
    """DuckDB replay of the full merge loop via an INDEPENDENT merge
    algorithm: mark matching pair positions, split runs of consecutive
    marks (gaps-and-islands), keep odd ordinals within each run (the
    left-to-right non-overlap rule), drop positions consumed as the
    right half, and list() the survivors back in order. The Spark side
    merges with a sequential expression fold instead -- two different
    formulations certifying the same loop."""
    return "WITH " + ",\n".join(_bpe_ctes()) + "\n" + _bpe_union()


def _bpe_union() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT {k} AS rank, la AS left_sym, ra AS right_sym,"
        f" CAST(c AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, BPE_ROUNDS + 1)
    ) + "\nORDER BY rank"


def _bpe_ctes() -> list[str]:
    parts = [
        f"""w0 AS (
  SELECT word, count(*) AS cnt, regexp_extract_all(word, '.') AS syms
  FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY word
)"""
    ]
    for k in range(1, BPE_ROUNDS + 1):
        p = k - 1
        parts.append(
            f"""p{k} AS (
  SELECT syms[i] AS la, syms[i + 1] AS ra, sum(cnt) AS c
  FROM w{p}, unnest(range(1, len(syms))) AS t(i)
  GROUP BY la, ra
), b{k} AS (
  SELECT la, ra, c FROM p{k} ORDER BY c DESC, la ASC, ra ASC LIMIT 1
), m{k} AS (
  -- LEFT JOIN ON TRUE + coalesce(mk, FALSE): when the corpus exhausts
  -- its pairs before round {BPE_ROUNDS} (b{k} empty), the round must be
  -- a NO-OP carrying w{p} through -- a cross join would empty every
  -- later w table and desync from the Spark side's loop break
  SELECT w.word, w.cnt, t.i, w.syms[t.i] AS s,
         CASE WHEN t.i < len(w.syms) THEN w.syms[t.i + 1] END AS sn,
         coalesce(t.i < len(w.syms) AND w.syms[t.i] = b.la
                  AND w.syms[t.i + 1] = b.ra, FALSE) AS mk
  FROM w{p} w LEFT JOIN b{k} b ON TRUE, unnest(range(1, len(w.syms) + 1)) AS t(i)
), g{k} AS (
  SELECT *, CASE WHEN mk THEN i - row_number()
                   OVER (PARTITION BY word, mk ORDER BY i) END AS grp
  FROM m{k}
), tk{k} AS (
  SELECT *, mk AND (row_number()
                    OVER (PARTITION BY word, grp ORDER BY i) % 2 = 1) AS take
  FROM g{k}
), w{k} AS (
  SELECT word, cnt,
         list(CASE WHEN take THEN s || sn ELSE s END ORDER BY i) AS syms
  FROM (SELECT *, coalesce(lag(take) OVER (PARTITION BY word ORDER BY i),
                           FALSE) AS consumed
        FROM tk{k})
  WHERE NOT consumed GROUP BY word, cnt
)"""
        )
    return parts


@register(
    "llm_bpe_train_merges",
    oracle=_bpe_oracle(),
    doc=(
        "BPE tokenizer TRAINING -- the full iterative merge loop"
        f" ({BPE_ROUNDS} rounds), not just one pair census"
        " (llm_bpe_pair_counts is the single-round primitive): each"
        " round counts weighted adjacent symbol pairs over the distinct-"
        "word table, picks the argmax pair (count DESC, pair ASC -- the"
        " min(struct) idiom, deterministic ties), and applies the merge"
        " LEFT-TO-RIGHT NON-OVERLAPPING to every word. The merge is an"
        " expression-only fold (aggregate() with an (out, carry)"
        " accumulator) -- no shuffle, no UDF; each round's word table"
        " persists so round k+1 starts from materialized state, and the"
        " only driver traffic is ONE argmax row per round. The DuckDB"
        " oracle replays the loop with an independent run-parity window"
        " formulation, so the iteration is value-certified end-to-end."
        " At 100 TB: the word table is |vocab|-sized (sub-linear in"
        " corpus), rounds cost one small shuffle each, and the merge"
        " fold runs at scan speed -- the standard scalable BPE layout"
        " (word-level counts, not token streams)."
    ),
)
def llm_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_loop(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, pair_count bigint"
    ).select(
        F.col("rank").cast("int").alias("rank"),
        "left_sym",
        "right_sym",
        "pair_count",
    )


def clear_bpe_memo() -> None:
    """No-op. BPE keeps no result cache: each call runs the merge loop,
    and the word tables it persists are released, like every other
    build artifact, by ``cache.unpersist_artifacts()``. Kept only for
    ``perfbench/catalog_mix.py::reset``, which still calls it."""


def _bpe_loop(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge loop; return (merge table rows, final word table
    (word, cnt, syms)) -- the trained model AND the tokenized
    vocabulary, shared by the train and apply operators. Every call
    runs all rounds: each round's word table goes through
    ``cache.persist_artifact``, so a second call in the same session
    reads the earlier call's tables through CacheManager plan matching
    (one argmax job per round over cached rows), and after
    ``unpersist_artifacts()`` it trains from the parquet again."""
    t = load_tables(spark, sf_dir, ["documents"])
    words = (
        t.documents.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "word", "cnt", F.expr("regexp_extract_all(word, '.', 0)").alias("syms")
        )
    )
    words = cache.persist_artifact(words)
    merges: list[tuple[int, str, str, int]] = []
    for k in range(1, BPE_ROUNDS + 1):
        pairs = (
            # single-symbol words carry no pairs -- and sequence(1, 0)
            # DESCENDS instead of being empty, so filter BEFORE exploding
            words.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i - 1] AS la, syms[i] AS ra))"
                    )
                ).alias("p"),
            )
            .groupBy("p.la", "p.ra")
            .agg(F.sum("cnt").alias("c"))
        )
        # deterministic argmax: ONE row to the driver per round
        best = pairs.agg(
            F.min(F.struct((-F.col("c")).alias("nc"), "la", "ra")).alias("b")
        ).first()["b"]
        if best is None or best["la"] is None:
            break  # corpus exhausted (no adjacent pairs left / empty input)
        la, ra, cnt = best["la"], best["ra"], -best["nc"]
        merges.append((k, la, ra, int(cnt)))
        words = cache.persist_artifact(
            words.select(
                "word", "cnt", _bpe_merge_fold("syms", la, ra).alias("syms")
            )
        )
    return merges, words


def _bpe_merge_fold(syms_col: str, la: str, ra: str) -> F.Column:
    """Expression-only left-to-right merge fold: carry the previous
    symbol; (carry=la, s=ra) emits the merged symbol and clears the
    carry, so an overlapping second occurrence cannot re-use the
    consumed symbol (BPE's non-overlap rule by construction). Built with
    the Column API and F.lit -- corpus-derived symbols never enter a SQL
    string, so quotes/backslashes in real text cannot break parsing."""

    def _acc(out: F.Column, carry: F.Column) -> F.Column:
        return F.struct(out.alias("o"), carry.alias("c"))

    null_s = F.lit(None).cast("string")
    empty = F.array().cast("array<string>")
    flush = lambda acc: F.when(  # noqa: E731 -- emit the pending carry
        acc["c"].isNull(), acc["o"]
    ).otherwise(F.concat(acc["o"], F.array(acc["c"])))
    return F.aggregate(
        F.col(syms_col),
        _acc(empty, null_s),
        lambda acc, s: F.when(
            (acc["c"] == F.lit(la)) & (s == F.lit(ra)),
            _acc(F.concat(acc["o"], F.array(F.lit(la + ra))), null_s),
        ).otherwise(_acc(flush(_acc(acc["o"], acc["c"])), s)),
        flush,
    )


@register(
    "llm_bpe_tokenize_apply",
    oracle=(
        "WITH "
        + ",\n".join(_bpe_ctes())
        + f"""
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents) d
JOIN w{BPE_ROUNDS} w USING (word)
GROUP BY d.doc_id
"""
    ),
    doc=(
        "BPE tokenizer APPLY -- the inference half of"
        " llm_bpe_train_merges: the trained merge table tokenizes the"
        " corpus and reports per-document subword counts (the token"
        " accounting every budget/packing stage downstream consumes)."
        " The key scalability idea is WORD-LEVEL tokenization: merges"
        " apply once per DISTINCT word (the |vocab|-sized table the"
        " merge loop materializes; this call runs the loop itself, over"
        " the train call's persisted word tables while they are still"
        " cached), and documents join word ->"
        " subword-count instead of re-merging every token occurrence --"
        " at 100 TB that turns tokenization from O(corpus tokens x"
        " rounds) fold work into O(vocab x rounds) + one broadcast-"
        "joined corpus pass. The DuckDB oracle replays the ENTIRE"
        " training chain (shared word-keyed CTEs) and joins the final"
        " vocabulary back to the documents, so train+apply are"
        " value-certified together end-to-end."
    ),
)
def llm_bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, words = _bpe_loop(spark, sf_dir)
    vocab = words.select("word", F.size("syms").cast("bigint").alias("n_sub"))
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t.documents.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")
    )
    return (
        toks.join(F.broadcast(vocab), ["word"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# PCA top component via integer-exact power iteration
# ---------------------------------------------------------------------------
PCA_ROUNDS = 4
PCA_Q = 10**6   # embedding quantization: micro-units
PCA_DIMS = 64


def _pca_v0(j: int) -> int:
    """Deterministic +-1000 milli start vector from md5('pca:j') -- the
    catalog's md5-literal scheme, embedded identically in both engines."""
    h = _hashlib.md5(f"pca:{j}".encode()).hexdigest()
    return 1000 if int(h[:15], 16) % 2 == 0 else -1000


_PCA_V0 = [_pca_v0(j) for j in range(PCA_DIMS)]


def _pca_oracle() -> str:
    """Unrolled power iteration in DuckDB: quantize to micro-ints, center
    by multiplying through (cx = N*xq - S, exact integers), then per
    round c_i = cx . v (int64), s_j = sum(c_i * cx_ij) (HUGEINT), and the
    sign-aware milli rescale v'_j = sign(s_j) * ((1000*|s_j|) // max|s|)
    -- floor-on-nonnegatives is truncation in every engine, so the whole
    pipeline is bit-exact with zero floats."""
    v0 = "[" + ", ".join(str(x) for x in _PCA_V0) + "]"
    parts = [
        f"""q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * {PCA_Q}) AS BIGINT)) AS xq
  FROM embeddings
), st AS (
  SELECT count(*) AS n, j, sum(xq[j]) AS sj
  FROM q, unnest(range(1, {PCA_DIMS} + 1)) AS t(j) GROUP BY j
), sv AS (
  SELECT max(n) AS n, list(sj ORDER BY j) AS s FROM st
), c AS (
  SELECT vec_id, list_transform(range(1, {PCA_DIMS} + 1),
                                j -> sv.n * q.xq[j] - sv.s[j]) AS cx
  FROM q, sv
), v0 AS (SELECT {v0} AS v)"""
    ]
    prev = "v0"
    for k in range(1, PCA_ROUNDS + 1):
        parts.append(
            f"""ci{k} AS (
  SELECT vec_id, cx,
         list_sum(list_transform(range(1, {PCA_DIMS} + 1),
                  j -> cx[j] * {prev}.v[j])) AS ci
  FROM c, {prev}
), sj{k} AS (
  SELECT j, sum(ci::HUGEINT * cx[j]) AS s
  FROM ci{k}, unnest(range(1, {PCA_DIMS} + 1)) AS t(j) GROUP BY j
), gm{k} AS (SELECT max(abs(s)) AS gv FROM sj{k}),
v{k} AS (
  SELECT list(CAST(CASE WHEN s < 0 THEN -((1000::HUGEINT * (-s)) // gv)
                        ELSE (1000::HUGEINT * s) // gv END AS BIGINT)
              ORDER BY j) AS v
  FROM sj{k}, gm{k}
)"""
        )
        prev = f"v{k}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(t.j - 1 AS BIGINT) AS dim, CAST(v.v[t.j] AS BIGINT) AS loading_milli
FROM {prev} v, unnest(range(1, {PCA_DIMS} + 1)) AS t(j)
WHERE (SELECT count(*) FROM embeddings) > 0
"""
    )


@register(
    "llm_embedding_pca_power",
    oracle=_pca_oracle(),
    doc=(
        "PCA top principal component via POWER ITERATION"
        f" ({PCA_ROUNDS} rounds) with a fully INTEGER-EXACT pipeline:"
        f" embeddings quantize to micro-ints (x * {PCA_Q}), centering"
        " multiplies through (cx = N*x - S, no rational mean), each"
        " round is c_i = cx.v (int64) then s_j = sum(c_i * cx_ij) in"
        " DECIMAL(38)/HUGEINT, and the between-round normalization is"
        " the sign-aware milli rescale v' = sign(s)*((1000*|s|) div"
        " max|s|) -- floor of a nonnegative is truncation in every"
        " engine, so there is NOT ONE float operation end-to-end and the"
        " oracle (4 unrolled CTE rounds) is bit-identical. The start"
        " vector is md5-derived +-1000 milli. Plan: per round ONE"
        " corpus-scan aggregate (64 map-side-combining sums) with v"
        " entering as a literal -- the standard distributed power"
        " iteration; at 100 TB each round costs a scan, driver traffic"
        f" is one {PCA_DIMS}-int vector per round, and the centering"
        " stats are a one-pass prelude. Output long-form (dim,"
        " loading_milli): the direction semantic-dedup / whitening"
        " stages project onto. Convergence note: the contract certifies"
        " the 4-round ITERATE exactly (bit-identical at any eigengap);"
        " on this near-isotropic synthetic corpus (eigengap ~1.02) the"
        " iterate captures 0.83-0.90 of the true top eigenvalue"
        " (floor-tested vs numpy); a production corpus with a real"
        " dominant direction converges geometrically in the gap."
    ),
)
def llm_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    q = t.embeddings.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {PCA_Q})"
            " AS BIGINT))"
        ).alias("xq"),
    )
    q = cache.persist_artifact(q)
    # centering stats: one pass, 64 integer sums + the count
    stats = q.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at("xq", j + 1)).alias(f"s{j}")
            for j in range(PCA_DIMS)
        ],
    ).first()
    n = int(stats["n"])
    if n == 0:  # empty corpus: PCA undefined -> empty result, not a crash
        return spark.createDataFrame([], "dim bigint, loading_milli bigint")
    S = [int(stats[f"s{j}"]) for j in range(PCA_DIMS)]
    cx = q.select(
        "vec_id",
        F.expr(
            f"transform(sequence(1, {PCA_DIMS}),"
            f" j -> {n} * xq[j - 1] - element_at(array({', '.join(str(x) for x in S)}), j))"
        ).alias("cx"),
    )
    cx = cache.persist_artifact(cx)
    v = list(_PCA_V0)
    for _ in range(PCA_ROUNDS):
        v_sql = ", ".join(str(x) for x in v)
        ci = cx.select(
            "cx",
            F.expr(
                f"aggregate(zip_with(cx, array({v_sql}), (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("ci"),
        )
        row = ci.agg(
            *[
                F.sum(
                    F.expr(f"CAST(ci AS DECIMAL(38,0)) * cx[{j}]")
                ).alias(f"s{j}")
                for j in range(PCA_DIMS)
            ]
        ).first()
        s = [int(row[f"s{j}"]) for j in range(PCA_DIMS)]
        g = max(abs(x) for x in s)
        if g == 0:
            break  # degenerate corpus: keep the current direction
        v = [(1 if x >= 0 else -1) * ((1000 * abs(x)) // g) for x in s]
    return spark.createDataFrame(
        [(j, v[j]) for j in range(PCA_DIMS)], "dim bigint, loading_milli bigint"
    )
