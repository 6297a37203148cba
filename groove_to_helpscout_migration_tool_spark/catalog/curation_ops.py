"""Corpus-curation operators, round 6: the data-quality / efficiency
family a 100 TB pre-training pipeline runs between raw crawl and
training shards.

Seven operators, each a distinct at-scale technique:

  - llm_decontaminate_bloom  : Bloom-prefiltered decontamination -- a
        constant-size bitmap broadcast kills ~all training shingles
        before any join; output identical to the exact join form.
  - llm_repetition_stats     : Gopher-style intra-document repetition
        signals (dup-word / top-word / dup-3-gram fractions).
  - llm_quality_filter_c4    : C4/Gopher-style keep/drop gate with
        per-reason flags, composed from the text-signal expressions.
  - llm_dedup_by_source      : per-source exact dedup keeping the
        longest copy -- groupBy + struct-max, no window sort.
  - llm_ann_quantized_topk   : int8 scalar-quantized ANN first pass +
        exact re-rank (FAISS SQ8 shape), output equal to brute force.
  - llm_lang_temperature_sample : mT5-style temperature re-balancing
        of the language mixture with integer-only deterministic rates.
  - llm_hashing_vectorizer   : hashing-trick text-to-vector bridge
        (signed hashed counts + L2 weights), no vocabulary table.

Reference parity note: the reference tool has no corpus-curation stage
(it is a ticket migrator); these extend the engine for the LLM-data
workload the same way catalog/llm_ops.py does, with every operator
oracle-checked against DuckDB on the shared parquet tables.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..registry import QUERIES, register
from ..session import load_tables
from . import llm_ops as _LL  # fragments + registration-order dependency

_TOKENS_SQL = _LL._TOKENS_SQL
_WORD_HASH_SQL = _LL._WORD_HASH_SQL
_SHINGLE_CTES = _LL._SHINGLE_CTES


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination
# ---------------------------------------------------------------------------
BLOOM_M_BITS = 1 << 16  # bitmap size: 64 Kbit = 1024 longs = 8 KB broadcast
BLOOM_K = 4             # probes per key (double hashing)
_BLOOM_SEED = 0x9E3779B9


def _bloom_positions(g: F.Column) -> list[F.Column]:
    """K bit positions for key ``g`` via double hashing: p_i =
    (h1 + i*h2) mod m with h1/h2 = xxhash64 under two seeds. Both
    hashes are reduced mod m BEFORE combining, so h1 + 3*h2 < 4m stays
    far from int64 overflow (ANSI mode would throw on wrap)."""
    h1 = F.pmod(F.xxhash64(g), F.lit(BLOOM_M_BITS))
    h2 = F.pmod(F.xxhash64(g, F.lit(_BLOOM_SEED)), F.lit(BLOOM_M_BITS))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(BLOOM_M_BITS)) for i in range(BLOOM_K)]


def bloom_bitmap(keys: DataFrame, col: str) -> DataFrame:
    """ONE-row frame holding the Bloom bitmap as map<int, bigint>
    (word index -> 64 set/unset bits), built fully JVM-side: explode
    the K positions per key, bit_or per 64-bit word, fold the <= 1024
    words into a map. Constant-size by construction (8 KB at m = 2^16)
    no matter how many keys went in -- the property that makes it
    broadcastable when the key SET itself no longer is."""
    pos = keys.select(
        F.explode(F.array(*_bloom_positions(F.col(col)))).alias("p")
    )
    words = pos.select(
        F.expr("CAST(p div 64 AS INT)").alias("idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").alias("bit"),
    )
    return (
        words.groupBy("idx")
        .agg(F.bit_or("bit").alias("bits"))
        .agg(F.map_from_entries(F.collect_list(F.struct("idx", "bits"))).alias("bloom"))
    )


def bloom_might_contain(col: str) -> F.Column:
    """Membership test against the crossJoin'd ``bloom`` map column:
    all K probed bits set. Missing map word -> NULL -> coalesce(false).
    shiftright/& run through F.expr because the SQL builtins accept
    column shift amounts while the Python wrappers take literals."""
    tests = []
    for i, p in enumerate(_bloom_positions(F.col(col))):
        t = F.expr(
            f"coalesce((shiftright(try_element_at(bloom, CAST(_bp{i} div 64 AS INT)),"
            f" CAST(pmod(_bp{i}, 64) AS INT)) & 1) = 1, false)"
        )
        tests.append((f"_bp{i}", p, t))
    return tests


@register(
    "llm_decontaminate_bloom",
    oracle=None,  # assigned below: byte-identical to llm_decontaminate's
    doc=(
        "Decontamination with a Bloom-filter prefilter: the eval-set"
        " shingles are folded into a constant-size (8 KB) bitmap -- built"
        " fully JVM-side as a bit_or aggregation, no UDF, no driver"
        " collect -- which is crossJoin-broadcast to the exploded training"
        " shingles; only grams the bitmap claims (~0.5% fpp at this fill)"
        " reach the exact verify join, whose output is IDENTICAL to"
        " llm_decontaminate (false positives die in the join, false"
        " negatives cannot exist). At 100 TB this is the standard shape"
        " when the eval gram SET outgrows the broadcast budget: the"
        " bitmap stays 8 KB regardless of eval size, the prefilter kills"
        " ~all training rows map-side, and the surviving trickle can"
        " afford any join strategy. Oracle: the same SQL as"
        " llm_decontaminate -- the bloom pass must be semantically"
        " invisible."
    ),
)
def llm_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cache import persist_artifact

    t = load_tables(spark, sf_dir, ["documents"])
    docs = DD.shingled_docs(t.documents)
    # Both build artifacts persist (r13): eval_grams is referenced TWICE
    # (bitmap build + exact verify join) and was recomputed per
    # reference; the bitmap itself is THE build-once prefilter the
    # docstring describes -- rebuilding its two-exchange aggregation on
    # every query batch priced the steady state as build work. Same
    # build-once semantics as the signature/index artifacts: at 100 TB
    # these are written once per eval-set snapshot.
    eval_grams = persist_artifact(
        docs.filter(F.col("doc_id") < 50)
        .select(F.explode("xs").alias("g"))
        .distinct()
    )
    bloom = persist_artifact(bloom_bitmap(eval_grams, "g"))
    train = docs.filter(F.col("doc_id") >= 50).select(
        "doc_id", F.size("xs").alias("n_grams"), F.explode("xs").alias("g")
    )
    probed = train.crossJoin(F.broadcast(bloom))
    tests = bloom_might_contain("g")
    for name, p, _ in tests:
        probed = probed.withColumn(name, p)
    hit = reduce(lambda a, b: a & b, [t_ for _, _, t_ in tests])
    survivors = probed.filter(hit).select("doc_id", "n_grams", "g")
    hits = (
        survivors.join(F.broadcast(eval_grams), ["g"])
        .groupBy("doc_id", "n_grams")
        .agg(F.count("g").alias("n_shared_grams"))
    )
    overlap = F.col("n_shared_grams").cast("double") / F.col("n_grams")
    return hits.select(
        "doc_id",
        F.col("n_shared_grams").cast("bigint").alias("n_shared_grams"),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.round(overlap, 6).alias("overlap"),
        (overlap >= 0.2).alias("contaminated"),
    )


# the bloom pass must be semantically invisible: certify against the
# EXACT form's oracle, not a bloom-aware rewrite of it
_spec = QUERIES["llm_decontaminate_bloom"]
QUERIES["llm_decontaminate_bloom"] = type(_spec)(
    name=_spec.name,
    fn=_spec.fn,
    oracle=QUERIES["llm_decontaminate"].oracle,
    doc=_spec.doc,
)


# ---------------------------------------------------------------------------
# Gopher-style intra-document repetition signals
# ---------------------------------------------------------------------------
@register(
    "llm_repetition_stats",
    oracle=f"""
WITH tw AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
), wcnt AS (
  SELECT doc_id, word, count(*) AS c FROM tw GROUP BY doc_id, word
), words AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct_words,
         max(c) AS top_word_count
  FROM wcnt GROUP BY doc_id
), hs AS (
  SELECT doc_id,
    list_transform({_TOKENS_SQL},
      w -> {_WORD_HASH_SQL.format(w='w')} % {DD.XFOLD}) AS h
  FROM documents
), shing AS (
  SELECT doc_id,
    greatest(len(h) - 2, 0) AS n_shingles,
    len(list_distinct(list_transform(range(1, greatest(len(h) - 2, 0) + 1),
      i -> (h[i] * {DD.GRAM_A} + h[i+1] * {DD.GRAM_B} + h[i+2]) % {DD.XFOLD})))
      AS n_distinct_shingles
  FROM hs
), joined AS (
  SELECT w.doc_id, n_tokens, n_distinct_words, top_word_count,
         n_shingles, n_distinct_shingles,
         round(1.0 - CAST(n_distinct_words AS DOUBLE) / n_tokens, 6) AS dup_word_frac,
         round(CAST(top_word_count AS DOUBLE) / n_tokens, 6) AS top_word_frac,
         CASE WHEN n_shingles > 0
              THEN round(1.0 - CAST(n_distinct_shingles AS DOUBLE) / n_shingles, 6)
              ELSE CAST(0.0 AS DOUBLE) END AS dup_shingle_frac
  FROM words w JOIN shing s ON w.doc_id = s.doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
       CAST(top_word_count AS BIGINT) AS top_word_count,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_distinct_shingles AS BIGINT) AS n_distinct_shingles,
       dup_word_frac, top_word_frac, dup_shingle_frac,
       dup_word_frac > 0.3 OR top_word_frac > 0.2 OR dup_shingle_frac > 0.3
         AS flagged
FROM joined
""",
    doc=(
        "Intra-document repetition signals (the Gopher quality-rule"
        " family): duplicate-word fraction, top-word fraction, and"
        " duplicate word-3-gram fraction, with a composite flag at the"
        " published thresholds (0.3/0.2/0.3). Word stats come from ONE"
        " explode + two-level hash aggregation -- the shuffle carries"
        " (doc_id, word) pairs with map-side partial counts, keys are"
        " high-cardinality so no skew; shingle totals are per-row"
        " expressions on the token-hash array (the same md5-fold scheme"
        " as the near-dup family, so the oracle mirrors it exactly)."
        " Per-doc local signals: embarrassingly parallel at 100 TB."
    ),
)
def llm_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toked = t.documents.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    hashed = toked.select(
        "doc_id",
        "toks",
        F.transform(F.col("toks"), lambda w: TX.word_hash(w) % DD.XFOLD).alias("hs"),
    )
    shing = hashed.select(
        "doc_id",
        "toks",
        F.greatest(F.size("hs") - 2, F.lit(0)).cast("bigint").alias("n_shingles"),
        F.size(DD.gram_hashes(F.col("hs"))).cast("bigint").alias("n_distinct_shingles"),
    )
    ex = shing.select(
        "doc_id", "n_shingles", "n_distinct_shingles", F.explode("toks").alias("word")
    )
    wcnt = ex.groupBy("doc_id", "n_shingles", "n_distinct_shingles", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = wcnt.groupBy("doc_id", "n_shingles", "n_distinct_shingles").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("c").alias("top_word_count"),
    )
    dup_word = F.round(
        F.lit(1.0) - F.col("n_distinct_words").cast("double") / F.col("n_tokens"), 6
    )
    top_word = F.round(F.col("top_word_count").cast("double") / F.col("n_tokens"), 6)
    dup_shingle = F.when(
        F.col("n_shingles") > 0,
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_shingles").cast("double") / F.col("n_shingles"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    out = per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_distinct_words").cast("bigint").alias("n_distinct_words"),
        F.col("top_word_count").cast("bigint").alias("top_word_count"),
        "n_shingles",
        "n_distinct_shingles",
        dup_word.alias("dup_word_frac"),
        top_word.alias("top_word_frac"),
        dup_shingle.alias("dup_shingle_frac"),
    )
    return out.withColumn(
        "flagged",
        (F.col("dup_word_frac") > 0.3)
        | (F.col("top_word_frac") > 0.2)
        | (F.col("dup_shingle_frac") > 0.3),
    )


# ---------------------------------------------------------------------------
# C4/Gopher-style quality gate with per-reason flags
# ---------------------------------------------------------------------------
@register(
    "llm_quality_filter_c4",
    oracle=f"""
WITH m AS (
  SELECT doc_id, lang,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform({_TOKENS_SQL}, x -> length(x))) AS BIGINT)
           AS sum_wlen,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
         CAST(len(list_filter({_TOKENS_SQL},
              x -> list_contains(['the','a','of','and','to','in','is','it'], lower(x))))
              AS BIGINT) AS n_stop
  FROM documents
), d AS (
  SELECT doc_id, lang, n_tokens,
         round(CAST(sum_wlen AS DOUBLE) / greatest(n_tokens, 1), 6) AS mean_word_len,
         round(CAST(n_punct AS DOUBLE) / greatest(n_tokens, 1), 6) AS symbol_ratio,
         n_stop
  FROM m
)
SELECT doc_id, lang, n_tokens, mean_word_len, symbol_ratio,
       n_tokens < 15 AS too_short,
       n_tokens > 10000 AS too_long,
       mean_word_len < 3.0 OR mean_word_len > 10.0 AS bad_mean_word_len,
       symbol_ratio > 0.1 AS high_symbol_ratio,
       lang = 'en' AND n_stop = 0 AS no_stopwords,
       NOT (n_tokens < 15 OR n_tokens > 10000
            OR mean_word_len < 3.0 OR mean_word_len > 10.0
            OR symbol_ratio > 0.1 OR (lang = 'en' AND n_stop = 0)) AS keep
FROM d
""",
    doc=(
        "C4/Gopher-style quality GATE: the published pre-training document"
        " filters (length bounds, mean-word-length band 3-10, symbol-to-"
        "token ratio, English-stopword presence) computed as pure Column"
        " expressions over one scan, emitting one boolean PER RULE plus"
        " the composite keep -- per-reason flags are what a curation"
        " pipeline reports (how much data each rule kills) rather than a"
        " bare filter. Thresholds compare the ROUNDED ratios so the"
        " flag bits are reproducible cross-engine. No shuffle at all:"
        " at 100 TB this is a map-only pass fused into the scan."
    ),
)
def llm_quality_filter_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    c = F.col("text")
    toks = TX.tokens(c)
    n_tokens = TX.token_count_ws(c)
    sum_wlen = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    base = t.documents.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        sum_wlen.alias("sum_wlen"),
        TX.punct_count(c).alias("n_punct"),
        TX.stopword_count(c).alias("n_stop"),
    )
    denom = F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
    d = base.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(F.col("sum_wlen").cast("double") / denom, 6).alias("mean_word_len"),
        F.round(F.col("n_punct").cast("double") / denom, 6).alias("symbol_ratio"),
        "n_stop",
    )
    too_short = F.col("n_tokens") < 15
    too_long = F.col("n_tokens") > 10000
    bad_mean = (F.col("mean_word_len") < 3.0) | (F.col("mean_word_len") > 10.0)
    high_sym = F.col("symbol_ratio") > 0.1
    no_stop = (F.col("lang") == "en") & (F.col("n_stop") == 0)
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        "mean_word_len",
        "symbol_ratio",
        too_short.alias("too_short"),
        too_long.alias("too_long"),
        bad_mean.alias("bad_mean_word_len"),
        high_sym.alias("high_symbol_ratio"),
        no_stop.alias("no_stopwords"),
        (~(too_short | too_long | bad_mean | high_sym | no_stop)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Per-source exact dedup, longest copy wins
# ---------------------------------------------------------------------------
@register(
    "llm_dedup_by_source",
    oracle="""
WITH normed AS (
  SELECT doc_id, source, n_chars,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_hash
  FROM documents
), ranked AS (
  SELECT source, text_hash, doc_id, n_chars,
         row_number() OVER (PARTITION BY source, text_hash
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY source, text_hash) AS n_copies
  FROM normed
)
SELECT source, text_hash,
       doc_id AS kept_doc_id,
       CAST(n_chars AS BIGINT) AS kept_chars,
       CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1
""",
    doc=(
        "URL/domain-level exact dedup: group by (source, md5(norm_text))"
        " and keep the LONGEST copy (ties -> lowest doc_id) -- the"
        " crawl-curation rule that prefers the fullest capture of a page"
        " per site. Spark side is ONE groupBy computing argmax as a"
        " BIT-PACKED primitive max -- (n_chars << 40) | (2^40-1 - doc_id)"
        " -- because a max over a struct buffer falls out of the hash-"
        "aggregate fast path into SortAggregate (per-partition sorts on"
        " every map task); a bigint max keeps map-side partial agg inside"
        " whole-stage codegen. Valid for docs < 8 MB and corpora < 2^40"
        " rows; ANSI mode turns a violation into an error, never a wrong"
        " answer. The oracle uses the window formulation -- same argmax"
        " by (n_chars DESC, doc_id ASC). Shuffle moves 32-byte hashes +"
        " two longs, never text; high-cardinality keys scale flat."
    ),
)
def llm_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    shift = 1 << 40
    normed = t.documents.select(
        "doc_id",
        "source",
        F.md5(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        ).alias("text_hash"),
        (F.col("n_chars") * shift + (F.lit(shift - 1) - F.col("doc_id"))).alias("_pk"),
    )
    agg = normed.groupBy("source", "text_hash").agg(
        F.max("_pk").alias("_best"), F.count(F.lit(1)).alias("n_copies")
    )
    return agg.select(
        "source",
        "text_hash",
        (F.lit(shift - 1) - F.pmod(F.col("_best"), F.lit(shift))).alias("kept_doc_id"),
        F.expr(f"_best div {shift}").cast("bigint").alias("kept_chars"),
        F.col("n_copies").cast("bigint").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Scalar-quantized ANN (int8 first pass, exact re-rank)
# ---------------------------------------------------------------------------
@register(
    "llm_ann_quantized_topk",
    oracle=None,  # assigned below: byte-identical to the brute-force oracle
    doc=(
        "ANN top-k with an int8 scalar-quantized first pass (FAISS SQ8"
        " shape, operators/similarity.py sq8_topk): the corpus is stored"
        " as 1-byte-per-dim vectors + a per-vector scale (4x less scan"
        " bandwidth than float32, 8x less than the double path), the"
        " approximate pass ranks candidates with an exact INTEGER dot"
        " (Arrow-batched einsum -- order-free, no float contract needed),"
        " and a 10x-deep pool is re-ranked by the shared exact float"
        " path so the emitted rows are bit-identical to brute force."
        " Certified against the brute-force oracle itself: quantization"
        " must be output-invisible, like the bloom prefilter."
    ),
)
def llm_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.sq8_topk(t.embeddings, k=5)


_spec = QUERIES["llm_ann_quantized_topk"]
QUERIES["llm_ann_quantized_topk"] = type(_spec)(
    name=_spec.name,
    fn=_spec.fn,
    oracle=QUERIES["llm_ann_topk_cosine"].oracle,
    doc=_spec.doc,
)


# ---------------------------------------------------------------------------
# Temperature-based language mixing (mT5/XLM-R-style corpus re-balancing)
# ---------------------------------------------------------------------------
_MIX_KEY_SQL = _LL._DOC_KEY_SQL.format(salt="mix:t0.5")


@register(
    "llm_lang_temperature_sample",
    oracle=f"""
WITH c AS (
  SELECT lang, count(*) AS c FROM documents GROUP BY lang
), s AS (
  SELECT lang, c, CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS sw FROM c
), tot AS (
  SELECT sum(c) AS n_total, sum(sw) AS w_total FROM s
), rates AS (
  SELECT lang,
         least(1000::HUGEINT,
               (1000::HUGEINT * (n_total // 2) * sw) // (w_total::HUGEINT * c))
           AS keep_rate
  FROM s, tot
)
SELECT d.doc_id, d.lang,
       CAST(r.keep_rate AS BIGINT) AS keep_rate,
       CAST({_MIX_KEY_SQL} % 1000 AS BIGINT) AS keep_bucket
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE {_MIX_KEY_SQL} % 1000 < r.keep_rate
""",
    doc=(
        "Temperature-based language re-balancing (the mT5/XLM-R mixing"
        " rule at T = 2, i.e. weight ~ count^0.5): per-language keep"
        " rates flatten the head language toward the tail, targeting"
        " half the corpus. ALL arithmetic is integer (isqrt weights,"
        " integer div) so the rates are bit-identical cross-engine with"
        " no float-sum order dependence -- the only float op is one"
        " IEEE-exact sqrt per language. Plan shape: a 5-row aggregate"
        " broadcast back onto the scan + the same deterministic md5"
        " per-mille bucket as llm_sample_stratified -- no rand(), no"
        " shuffle of the corpus, keep decisions reproducible at any"
        " partitioning/retry. At 100 TB the rate table is still"
        " O(languages): the corpus pays one map-side filter."
        " (Integer-range note, r7: the rate numerator is computed in"
        " DECIMAL(38,0) / HUGEINT on the two engines, so it cannot"
        " overflow at any corpus size -- same fix as"
        " llm_cluster_balanced_sample.)"
    ),
)
def llm_lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    stats = t.documents.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    stats = stats.select(
        "lang",
        "c",
        F.floor(F.sqrt(F.col("c").cast("double"))).cast("bigint").alias("sw"),
    )
    # Totals ride a global window over the O(languages) aggregate
    # instead of a second reference through agg+crossJoin: AQE does not
    # stage-reuse a twice-referenced subtree (r13 finding, q11), so the
    # broadcast-total form re-ran the whole corpus lang-count scan. The
    # single-partition window is over a frame BOUNDED by the language
    # count (a constant, not a corpus dimension), so it is not the
    # forbidden corpus-wide-window shape; integer sums are order-free,
    # values bit-identical.
    tot_w = W.partitionBy()
    rates = stats.select(
        "lang",
        "c",
        "sw",
        F.sum("c").over(tot_w).alias("n_total"),
        F.sum("sw").over(tot_w).alias("w_total"),
    ).select(
        "lang",
        F.least(
            F.lit(1000).cast("bigint"),
            F.expr(
                "(CAST(1000 AS DECIMAL(38,0)) * (n_total div 2) * sw)"
                " div (CAST(w_total AS DECIMAL(38,0)) * c)"
            ),
        ).alias("keep_rate"),
    )
    bucket = _LL._doc_key("mix:t0.5") % 1000
    return (
        t.documents.join(F.broadcast(rates), ["lang"])
        .filter(bucket < F.col("keep_rate"))
        .select(
            "doc_id",
            "lang",
            F.col("keep_rate").cast("bigint").alias("keep_rate"),
            bucket.cast("bigint").alias("keep_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Feature hashing (hashing-trick text vectorizer)
# ---------------------------------------------------------------------------
HASH_DIMS = 64


@register(
    "llm_hashing_vectorizer",
    oracle=f"""
WITH tw AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
), h AS (
  SELECT doc_id,
         {_WORD_HASH_SQL.format(w='word')} % {HASH_DIMS} AS dim,
         CASE WHEN ({_WORD_HASH_SQL.format(w='word')} // {HASH_DIMS}) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM tw
), a AS (
  SELECT doc_id, dim, sum(sgn) AS w FROM h GROUP BY doc_id, dim
), nz AS (
  SELECT * FROM a WHERE w <> 0
), n AS (
  SELECT doc_id, sum(w * w) AS ss FROM nz GROUP BY doc_id
)
SELECT nz.doc_id, CAST(dim AS BIGINT) AS dim, CAST(w AS BIGINT) AS weight_raw,
       round(w / sqrt(ss), 6) AS weight_l2
FROM nz JOIN n ON nz.doc_id = n.doc_id
""",
    doc=(
        "Feature-hashing text vectorizer (the hashing trick): each word"
        " maps to dimension word_hash mod 64 with a +/-1 sign bit drawn"
        " from the next hash bit (signed hashing cancels collision"
        " bias); per-doc signed counts are L2-normalized. Emitted in"
        " LONG form (doc_id, dim, raw, l2) -- the sparse layout that"
        " joins straight into cosine/ANN pipelines; all counts are"
        " integer sums (order-free) and the single sqrt per doc makes"
        " the normalized weight deterministic cross-engine. The 100 TB"
        " point vs TF-IDF: NO vocabulary table, no second pass, no"
        " dictionary broadcast -- a single-branch plan: the L2 norm"
        " rides a doc_id-partitioned window over the combined nz frame"
        " (<= 64 rows per partition by construction), so there is no"
        " separate norm aggregate to join back and the plan does not"
        " depend on runtime exchange reuse to collapse a duplicate"
        " tokenize branch. One combine-first shuffle keyed by"
        " (doc_id, dim) plus one nz-sized doc_id exchange."
    ),
)
def llm_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    tw = t.documents.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")
    ).select("doc_id", TX.word_hash(F.col("word")).alias("_h"))
    h = tw.select(
        "doc_id",
        (F.col("_h") % HASH_DIMS).alias("dim"),
        F.when(F.expr(f"(_h div {HASH_DIMS}) % 2") == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    nz = (
        h.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("w"))
        .filter(F.col("w") != 0)
    )
    # L2 norm via a doc_id window (<= HASH_DIMS rows per partition):
    # keeps the tokenize+md5 pass single-scan where a groupBy+join
    # branch would recompute the whole explode for the norm side.
    ss = F.sum(F.col("w") * F.col("w")).over(W.partitionBy("doc_id"))
    return nz.select(
        "doc_id",
        F.col("dim").cast("bigint").alias("dim"),
        F.col("w").cast("bigint").alias("weight_raw"),
        F.round(F.col("w") / F.sqrt(ss), 6).alias("weight_l2"),
    )
