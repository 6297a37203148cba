"""LLM-training-data pipeline operators (BASELINE.json north star).

Dedup / similarity / text-analysis / multimodal over the ``documents``
and ``embeddings`` tables. Everything is a DataFrame transform with the
error-side-channel conventions of the rest of the engine; hashes go
through the md5-prefix scheme (functions/text.py) so DuckDB oracles can
mirror them exactly.

Scale design notes are on each operator; the common theme: per-row
expressions stay shuffle-free, candidate generation for pairwise ops is
always bucketed (never an unbounded cross join), and the brute-force
variants exist as oracles/baselines for the bucketed ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators.cache import persist_artifact
from ..registry import QUERIES, register
from ..session import load_tables

_TOKENS_SQL = "list_filter(str_split_regex(text, '\\s+'), x -> x <> '')"
_WORD_HASH_SQL = "(('0x' || substr(md5({w}), 1, 15))::BIGINT)"


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy on normalized text)
# ---------------------------------------------------------------------------
@register(
    "llm_dedup_exact",
    oracle="""
WITH normed AS (
  SELECT doc_id,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm_text
  FROM documents
)
SELECT min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies,
       md5(norm_text) AS text_hash
FROM normed GROUP BY norm_text
""",
    doc=(
        "Exact dedup: normalize (lower/trim/collapse-ws), group by text, keep "
        "min doc_id. At 100 TB: group on md5(norm_text) so the shuffle moves "
        "32-byte keys, never document bodies."
    ),
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    normed = t.documents.select(
        "doc_id",
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ").alias("norm_text"),
    )
    return (
        normed.groupBy(F.md5("norm_text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Document fingerprint (position-weighted rolling-style hash)
# ---------------------------------------------------------------------------
@register(
    "llm_doc_fingerprint",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         unnest({_TOKENS_SQL}) AS word,
         generate_subscripts({_TOKENS_SQL}, 1) - 1 AS pos
  FROM documents
)
SELECT doc_id,
       CAST(sum(({_WORD_HASH_SQL.format(w='word')} % 1000000007) * ((pos % 31) + 1))
            % 2305843009213693951 AS BIGINT) AS fingerprint
FROM toks GROUP BY doc_id
""",
    doc=(
        "Position-weighted document fingerprint over word hashes (rolling-hash "
        "family). posexplode + partial-agg: the shuffle carries (doc_id, "
        "contribution) longs only."
    ),
)
def llm_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t.documents.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("pos", "word")
    )
    contrib = (TX.word_hash(F.col("word")) % TX.FOLD_PRIME) * (
        (F.col("pos") % 31) + 1
    )
    return (
        toks.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg((F.sum("contrib") % TX.FP_MOD).cast("bigint").alias("fingerprint"))
    )


# ---------------------------------------------------------------------------
# Text statistics / token counting
# ---------------------------------------------------------------------------
@register(
    "llm_text_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
         AS n_tokens_bpe,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(len(list_filter({_TOKENS_SQL},
            x -> list_contains(['the','a','of','and','to','in','is','it'], lower(x))))
            AS BIGINT) AS n_stopwords,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct
FROM documents
""",
    doc="Token counting (whitespace + BPE-ish regex), stopword & punct counts.",
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    c = F.col("text")
    return t.documents.select(
        "doc_id",
        TX.token_count_ws(c).alias("n_tokens_ws"),
        TX.token_count_bpe(c).alias("n_tokens_bpe"),
        F.length(c).cast("bigint").alias("n_chars_actual"),
        TX.stopword_count(c).alias("n_stopwords"),
        TX.punct_count(c).alias("n_punct"),
    )


# ---------------------------------------------------------------------------
# Language identification (marker-token heuristic)
# ---------------------------------------------------------------------------
@register(
    "llm_lang_id",
    oracle=f"""
WITH counted AS (
  SELECT doc_id, lang,
    len(list_filter({_TOKENS_SQL}, x -> list_contains(['the','a','of','and','is'], lower(x)))) AS n_en,
    len(list_filter({_TOKENS_SQL}, x -> list_contains(['el','la','de','y','es'], lower(x))))   AS n_es,
    len(list_filter({_TOKENS_SQL}, x -> list_contains(['le','la','de','et','est'], lower(x)))) AS n_fr,
    len(list_filter({_TOKENS_SQL}, x -> list_contains(['der','die','das','und','ist'], lower(x)))) AS n_de
  FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       CASE
         WHEN n_en >= n_es AND n_en >= n_fr AND n_en >= n_de AND n_en > 0 THEN 'en'
         WHEN n_es >= n_fr AND n_es >= n_de AND n_es > 0 THEN 'es'
         WHEN n_fr >= n_de AND n_fr > 0 THEN 'fr'
         WHEN n_de > 0 THEN 'de'
         ELSE 'unk' END AS detected_lang
FROM counted
""",
    doc="Language-ID heuristic: marker-token voting with fixed precedence.",
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return t.documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.detect_language(F.col("text")).alias("detected_lang"),
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------
@register(
    "llm_quality_score",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         CAST(len({_TOKENS_SQL}) AS DOUBLE) AS n_tok,
         CAST(length(text) AS DOUBLE) AS n_chr,
         CAST(len(list_filter({_TOKENS_SQL},
              x -> list_contains(['the','a','of','and','to','in','is','it'], lower(x))))
              AS DOUBLE) AS n_stop,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS n_punct
  FROM documents
)
SELECT doc_id,
       round(greatest(0.0, least(1.0,
         0.4 * least(n_tok / 64.0, 1.0)
         + 0.4 * (1.0 - n_punct / greatest(n_chr, 1.0))
         + 0.2 * (n_stop / greatest(n_tok, 1.0)) * 4.0)), 6) AS quality
FROM m
""",
    doc="Pre-training quality heuristics: length + punctuation + stopword ratio.",
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return t.documents.select(
        "doc_id", TX.quality_score(F.col("text")).alias("quality")
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (the ANN baseline)
# ---------------------------------------------------------------------------
@register(
    "llm_ann_topk_cosine",
    oracle="""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
pairs AS (
  SELECT q.qid, e.vec_id AS nid,
         round(
           list_sum(list_transform(range(1, len(q.qv) + 1),
                    i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                    i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cosine
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.qid
)
SELECT qid AS query_id, nid AS neighbor_id, cosine, CAST(rn AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
  FROM pairs
) WHERE rn <= 5
""",
    doc=(
        "Brute-force cosine top-k (similarity.brute_topk, also the "
        "ground truth of tools/ann_recall.py): the query set is a bounded codebook-style "
        "fetch (10 rows by contract); the corpus streams ONCE through a "
        "single Arrow stage scoring each row against the whole query matrix "
        "(similarity.scores_vs_query_matrix -- dimension-axis accumulation, "
        "bit-identical to the interpreted per-pair fold it replaced), and "
        "top-k is the salted two-phase aggregate, never a corpus-sized "
        "window partition per query. The exact baseline the bucketed-LSH "
        "path is validated against. Ranks computed on the ROUNDED cosine "
        "so Spark/DuckDB float noise cannot flip order."
    ),
)
def llm_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.brute_topk(t.embeddings, k=5, query_max_id=10)


# ---------------------------------------------------------------------------
# Multimodal: opaque binary column + typed metadata (decode stubbed)
# ---------------------------------------------------------------------------
@register(
    "llm_multimodal_meta",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CASE
         WHEN substr(text, 1, 1) = chr(255) THEN 'image/jpeg'
         WHEN substr(text, 1, 1) = chr(137) THEN 'image/png'
         ELSE 'text/plain' END AS sniffed_mime,
       octet_length(encode(text)) > 10485760 AS oversize
FROM documents
""",
    doc=(
        "Multimodal plumbing: payloads as opaque BINARY + typed metadata; MIME "
        "sniffed from leading bytes (P13, TicketProcessor.php:296-298). Real "
        "image/audio decode is a mapInPandas stage (multimodal/decode.py), "
        "stubbed here because codec libs are absent."
    ),
)
def llm_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    payload = F.encode(F.col("text"), "UTF-8")
    first = F.substring(F.col("text"), 1, 1)
    return t.documents.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.when(first == F.lit("ÿ"), "image/jpeg")
        .when(first == F.lit(""), "image/png")
        .otherwise("text/plain")
        .alias("sniffed_mime"),
        (F.octet_length(payload) > 10485760).alias("oversize"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------
from ..operators import dedup as DD  # noqa: E402
from ..operators import similarity as SIM  # noqa: E402

_COEFFS_SQL = "[" + ", ".join(f"[{a}, {b}]" for a, b in DD.MINHASH_COEFFS) + "]"

_SHINGLE_CTES = f"""
toks AS (
  SELECT doc_id, list_filter(str_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), th AS (
  SELECT doc_id,
    list_transform(t, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % {DD.XFOLD}) AS h
  FROM toks
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(h) - 2, 0) + 1),
      i -> (h[i] * {DD.GRAM_A} + h[i+1] * {DD.GRAM_B} + h[i+2]) % {DD.XFOLD})) AS xs
  FROM th
), docs AS (SELECT doc_id, xs FROM sh WHERE len(xs) > 0)
"""

_MINHASH_SIG_SQL = f"""
sig AS (
  SELECT doc_id, xs,
    list_transform({_COEFFS_SQL},
      p -> list_min(list_transform(xs, x -> (p[1] * x + p[2]) % {DD.MINHASH_P}))) AS sig
  FROM docs
)
"""


@register(
    "llm_minhash_signature",
    oracle=f"""
WITH {_SHINGLE_CTES}, {_MINHASH_SIG_SQL}
SELECT doc_id, array_to_string(sig, ',') AS signature FROM sig
""",
    doc=(
        "k=16 MinHash signature over word-3-gram shingles. Shingle hash = "
        "md5-prefix; h_k(x) = (a_k*x + b_k) mod 2^31-1 with hardcoded "
        "coefficients (operators/dedup.py) mirrored into the oracle."
    ),
)
def llm_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = DD.shingled_docs(t.documents)
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(DD.minhash_signature(F.col("xs")), lambda v: v.cast("string")),
            ",",
        ).alias("signature"),
    )


@register(
    "llm_neardup_minhash_lsh",
    oracle=f"""
WITH {_SHINGLE_CTES}, {_MINHASH_SIG_SQL}, bands AS (
  SELECT doc_id, b.b AS b,
    b.b::VARCHAR || '-' || array_to_string(list_slice(sig, b.b*4 + 1, b.b*4 + 4), '-') AS band_key
  FROM sig, (SELECT unnest(range({DD.N_BANDS})) AS b) b
), cand AS (
  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
  FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
)
SELECT c.i AS doc_i, c.j AS doc_j,
       round(len(list_intersect(a.xs, b.xs))::DOUBLE
             / len(list_distinct(list_concat(a.xs, b.xs))), 6) AS jaccard
FROM cand c JOIN docs a ON a.doc_id = c.i JOIN docs b ON b.doc_id = c.j
WHERE round(len(list_intersect(a.xs, b.xs))::DOUBLE
            / len(list_distinct(list_concat(a.xs, b.xs))), 6) >= 0.5
""",
    doc=(
        "MinHash LSH near-dup pairs: 4 bands x 4 rows bucket join, exact "
        "shingle-Jaccard >= 0.5 verify. Candidate join shuffles (band_key, "
        "doc_id) only -- never text (operators/dedup.py scale notes). "
        "UNCAPPED ORACLE/BASELINE, not the production path: one "
        "boilerplate-heavy band bucket makes the self-join quadratic in "
        "its width (the same failure the r6 scale probe measured at "
        "100.7x pair growth on the uncapped simhash path). At scale run "
        "llm_neardup_minhash_lsh_capped; keep this entry for recall "
        "certification of the capped twin on bounded samples."
    ),
)
def llm_neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return DD.minhash_lsh_pairs(t.documents, jaccard_threshold=0.5)


_LSH_CAP = 8


@register(
    "llm_neardup_minhash_lsh_capped",
    oracle=f"""
WITH {_SHINGLE_CTES}, {_MINHASH_SIG_SQL}, bands_all AS (
  SELECT doc_id, b.b AS b,
    b.b::VARCHAR || '-' || array_to_string(list_slice(sig, b.b*4 + 1, b.b*4 + 4), '-') AS band_key
  FROM sig, (SELECT unnest(range({DD.N_BANDS})) AS b) b
), bands AS (
  SELECT doc_id, band_key FROM bands_all
  QUALIFY row_number() OVER (PARTITION BY band_key ORDER BY doc_id) <= {_LSH_CAP}
), anchors AS (
  SELECT band_key, min(doc_id) AS a FROM bands_all GROUP BY band_key
), cand AS (
  SELECT DISTINCT i, j FROM (
    SELECT l.doc_id AS i, r.doc_id AS j
    FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
    UNION ALL
    SELECT an.a AS i, ba.doc_id AS j
    FROM bands_all ba JOIN anchors an USING (band_key)
    WHERE ba.doc_id > an.a
  )
)
SELECT c.i AS doc_i, c.j AS doc_j,
       round(len(list_intersect(a.xs, b.xs))::DOUBLE
             / len(list_distinct(list_concat(a.xs, b.xs))), 6) AS jaccard
FROM cand c JOIN docs a ON a.doc_id = c.i JOIN docs b ON b.doc_id = c.j
WHERE round(len(list_intersect(a.xs, b.xs))::DOUBLE
            / len(list_distinct(list_concat(a.xs, b.xs))), 6) >= 0.5
""",
    doc=(
        "MinHash LSH near-dup pairs with HOT-BUCKET CAPPING + ANCHOR "
        f"STAR: each band bucket keeps its {_LSH_CAP} lowest doc_ids for "
        "the all-pairs self-join (operators/dedup.cap_bucket) AND every "
        "bucket member -- beyond-cap included -- pairs with the bucket's "
        "min doc_id (dedup.star_pairs), so a hot bucket contributes "
        "cap*(cap-1)/2 + (width-cap) candidates, linear in width, with "
        "no member orphaned even when identical signatures collapse all "
        "4 bands into one bucket. The oracle mirrors the cap with a "
        "row_number() QUALIFY and the star with a min-anchor join."
    ),
)
def llm_neardup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return DD.minhash_lsh_pairs(
        t.documents, jaccard_threshold=0.5, bucket_cap=_LSH_CAP
    )


_SIMHASH_CTES = f"""
toks AS (
  SELECT doc_id, list_filter(str_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), words AS (
  SELECT doc_id, unnest(list_distinct(t)) AS w FROM toks
), wh AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM words
), votes AS (
  SELECT doc_id, j.j AS j,
         sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM wh, (SELECT unnest(range({DD.SIMHASH_BITS})) AS j) j
  GROUP BY doc_id, j.j
), simsig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
"""


@register(
    "llm_simhash_signature",
    oracle=f"WITH {_SIMHASH_CTES} SELECT doc_id, simhash FROM simsig",
    doc=(
        "60-bit SimHash: per-bit +-1 votes from distinct word hashes, "
        "sign -> bit. Two partial-agg shuffles, no window."
    ),
)
def llm_simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return DD.simhash_signature(t.documents)


@register(
    "llm_neardup_simhash",
    oracle=f"""
WITH {_SIMHASH_CTES}, chunks AS (
  SELECT doc_id, simhash,
         c.c::VARCHAR || ':' || ((simhash >> (c.c * 15)) % 32768)::VARCHAR AS chunk
  FROM simsig, (SELECT unnest(range(4)) AS c) c
), cand AS (
  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j,
                  l.simhash AS sh_i, r.simhash AS sh_j
  FROM chunks l JOIN chunks r ON l.chunk = r.chunk AND l.doc_id < r.doc_id
)
SELECT i AS doc_i, j AS doc_j,
       CAST(bit_count(xor(sh_i, sh_j)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sh_i, sh_j)) <= 8
""",
    doc=(
        "SimHash near-dup pairs: block on equal 15-bit signature chunks "
        "(pigeonhole: hamming<=8 over 60 bits guarantees >=1 equal chunk... "
        "for <=3; wider blocking is recall-best-effort as in production "
        "simhash dedup), verify Hamming <= 8. BRUTE ORACLE/BASELINE, not "
        "the production path: emitting every qualifying pair grows "
        "quadratically with duplicate-cluster size (the r6 scale probe "
        "measured 100.7x pair growth at 10x data on this corpus -- "
        "SCALE_r6.json). At scale run llm_neardup_simhash_capped (per-"
        "bucket candidate cap bounds the pair fanout) or "
        "llm_simhash_dedup_assign (keeper assignment without ever "
        "materializing the pair set); keep this entry for recall "
        "certification of those twins on bounded samples."
    ),
)
def llm_neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return DD.simhash_neardup_pairs(t.documents, max_hamming=8)


@register(
    "llm_neardup_simhash_capped",
    oracle=f"""
WITH {_SIMHASH_CTES}, chunks_all AS (
  SELECT doc_id, simhash,
         c.c::VARCHAR || ':' || ((simhash >> (c.c * 15)) % 32768)::VARCHAR AS chunk
  FROM simsig, (SELECT unnest(range(4)) AS c) c
), chunks AS (
  SELECT doc_id, simhash, chunk FROM chunks_all
  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id) <= {_LSH_CAP}
), cand AS (
  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j,
                  l.simhash AS sh_i, r.simhash AS sh_j
  FROM chunks l JOIN chunks r ON l.chunk = r.chunk AND l.doc_id < r.doc_id
)
SELECT i AS doc_i, j AS doc_j,
       CAST(bit_count(xor(sh_i, sh_j)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sh_i, sh_j)) <= 8
""",
    doc=(
        "SimHash near-dup pairs with HOT-BUCKET CAPPING: each 15-bit "
        f"chunk bucket keeps only its {_LSH_CAP} lowest doc_ids before "
        "the self-join (operators/dedup.cap_bucket), the same guard "
        "minhash_lsh_capped uses -- bounds every bucket at cap*(cap-1)/2 "
        "candidate pairs, closing the round-2 quadratic-bucket scale "
        "hole on boilerplate-heavy corpora. Oracle mirrors the cap with "
        "a row_number() QUALIFY."
    ),
)
def llm_neardup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return DD.simhash_neardup_pairs(t.documents, max_hamming=8, bucket_cap=_LSH_CAP)


@register(
    "llm_simhash_dedup_assign",
    oracle=f"""
WITH {_SIMHASH_CTES}, chunks AS (
  SELECT doc_id, simhash,
         c.c::VARCHAR || ':' || ((simhash >> (c.c * 15)) % 32768)::VARCHAR AS chunk
  FROM simsig, (SELECT unnest(range(4)) AS c) c
), anchors AS (
  SELECT chunk, min(doc_id) AS anchor FROM chunks GROUP BY chunk
), cand AS (
  SELECT DISTINCT ch.doc_id, ch.simhash, a.anchor
  FROM chunks ch JOIN anchors a ON ch.chunk = a.chunk AND ch.doc_id > a.anchor
), verified AS (
  SELECT c.doc_id, c.anchor,
         CAST(bit_count(xor(c.simhash, s.simhash)) AS INTEGER) AS hamming
  FROM cand c JOIN simsig s ON s.doc_id = c.anchor
  WHERE bit_count(xor(c.simhash, s.simhash)) <= 8
)
SELECT doc_id, min(anchor) AS rep_id, arg_min(hamming, anchor) AS hamming
FROM verified GROUP BY doc_id
""",
    doc=(
        "SimHash dedup ASSIGNMENT (the scale path next to the pair "
        "enumerator): each doc verifies against one anchor per chunk "
        "bucket (the bucket min) and is assigned its smallest verified "
        "anchor. Candidate volume O(N x 4), output <= N rows -- on a "
        "clustered corpus the full pair list is quadratic in cluster "
        "size (1.6M pairs at sf0.1) while the dedup decision is linear."
    ),
)
def llm_simhash_dedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return DD.simhash_dedup_assign(t.documents, max_hamming=8)


# ---------------------------------------------------------------------------
# Embedding near-dup via hyperplane (sign-random-projection) LSH
# ---------------------------------------------------------------------------
def _emb_lsh_oracle() -> str:
    bit_exprs = ",\n  ".join(
        f"CASE WHEN list_sum(list_transform(range(1, {SIM.DIM} + 1), "
        f"i -> v[i] * ({SIM.sql_hyperplane_literal(k)})[i])) > 0 "
        f"THEN '1' ELSE '0' END AS b{k}"
        for k in range(SIM.N_PLANES)
    )
    k0 = " || ".join(["'0'"] + [f"b{k}" for k in range(0, SIM.BITS_PER_BAND)])
    k1 = " || ".join(["'1'"] + [f"b{k}" for k in range(SIM.BITS_PER_BAND, SIM.N_PLANES)])
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), bits AS (
  SELECT vec_id, v,
  {bit_exprs}
  FROM e
), keyed AS (
  SELECT vec_id, v, unnest([{k0}, {k1}]) AS bkey FROM bits
), cand AS (
  SELECT DISTINCT l.vec_id AS i, r.vec_id AS j, l.v AS v_i, r.v AS v_j
  FROM keyed l JOIN keyed r ON l.bkey = r.bkey AND l.vec_id < r.vec_id
), scored AS (
  SELECT i, j,
    round(list_sum(list_transform(range(1, {SIM.DIM} + 1), x -> v_i[x] * v_j[x]))
      / (sqrt(list_sum(list_transform(range(1, {SIM.DIM} + 1), x -> v_i[x] * v_i[x])))
         * sqrt(list_sum(list_transform(range(1, {SIM.DIM} + 1), x -> v_j[x] * v_j[x])))), 6)
      AS cosine
  FROM cand
)
SELECT i AS vec_i, j AS vec_j, cosine FROM scored WHERE cosine >= 0.35
"""


@register(
    "llm_neardup_embedding_lsh",
    oracle=_emb_lsh_oracle(),
    doc=(
        "Embedding near-dup via sign-random-projection LSH: 2 bands x 6 "
        "hyperplanes (+-1 vectors derived from md5 bits, inlined as literals "
        "in both engines), exact cosine >= 0.35 verify on candidates."
    ),
)
def llm_neardup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.lsh_neardup_pairs(t.embeddings, threshold=0.35)


def _emb_lsh_topk_oracle() -> str:
    """Mirror of SIM.lsh_topk: exact band keys on the corpus side,
    margin-ordered multiprobe (SIM.MARGIN_PATTERNS over margin ranks) on
    the query side -- the rank arithmetic is regenerated here from the
    same pattern list the Spark plan uses."""
    dot_exprs = ",\n  ".join(
        f"list_sum(list_transform(range(1, {SIM.DIM} + 1), "
        f"i -> v[i] * ({SIM.sql_hyperplane_literal(k)})[i])) AS d{k}"
        for k in range(SIM.N_PLANES)
    )
    bit_exprs = ",\n  ".join(
        f"CASE WHEN d{k} > 0 THEN '1' ELSE '0' END AS b{k}, abs(d{k}) AS m{k}"
        for k in range(SIM.N_PLANES)
    )
    rank_exprs = []
    for b in range(SIM.N_BANDS):
        band = list(range(b * SIM.BITS_PER_BAND, (b + 1) * SIM.BITS_PER_BAND))
        for k in band:
            cmps = " + ".join(
                (
                    f"(CASE WHEN m{j} <= m{k} THEN 1 ELSE 0 END)"
                    if j < k
                    else f"(CASE WHEN m{j} < m{k} THEN 1 ELSE 0 END)"
                )
                for j in band
                if j != k
            )
            rank_exprs.append(f"({cmps}) AS r{k}")
    rank_sql = ",\n  ".join(rank_exprs)

    def exact_key(b: int) -> str:
        return " || ".join(
            [f"'{b}'"]
            + [f"b{k}" for k in range(b * SIM.BITS_PER_BAND, (b + 1) * SIM.BITS_PER_BAND)]
        )

    def probe_key(b: int, pat: tuple) -> str:
        parts = [f"'{b}'"]
        for k in range(b * SIM.BITS_PER_BAND, (b + 1) * SIM.BITS_PER_BAND):
            if pat:
                in_list = ", ".join(str(p) for p in pat)
                parts.append(
                    f"(CASE WHEN r{k} IN ({in_list}) THEN "
                    f"(CASE WHEN b{k} = '1' THEN '0' ELSE '1' END) ELSE b{k} END)"
                )
            else:
                parts.append(f"b{k}")
        return " || ".join(parts)

    exact = [exact_key(b) for b in range(SIM.N_BANDS)]
    probes = [
        probe_key(b, pat)
        for b in range(SIM.N_BANDS)
        for pat in SIM.MARGIN_PATTERNS
    ]
    b_cols = ", ".join(f"b{k}" for k in range(SIM.N_PLANES))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), dots AS (
  SELECT vec_id, v,
  {dot_exprs}
  FROM e
), bits AS (
  SELECT vec_id, v,
  {bit_exprs}
  FROM dots
), ranks AS (
  SELECT vec_id, v, {b_cols},
  {rank_sql}
  FROM bits
), keyed AS (
  SELECT vec_id, v, unnest([{", ".join(exact)}]) AS bkey FROM bits
), probed AS (
  SELECT vec_id, v, unnest([{", ".join(probes)}]) AS bkey FROM ranks
  WHERE vec_id < 10
), cand AS (
  SELECT DISTINCT q.vec_id AS qid, q.v AS qv, c.vec_id AS nid, c.v AS nv
  FROM probed q JOIN keyed c ON q.bkey = c.bkey AND c.vec_id <> q.vec_id
), scored AS (
  SELECT qid, nid,
    round(list_sum(list_transform(range(1, {SIM.DIM} + 1), x -> qv[x] * nv[x]))
      / (sqrt(list_sum(list_transform(range(1, {SIM.DIM} + 1), x -> qv[x] * qv[x])))
         * sqrt(list_sum(list_transform(range(1, {SIM.DIM} + 1), x -> nv[x] * nv[x])))), 6)
      AS cosine
  FROM cand
)
SELECT qid AS query_id, nid AS neighbor_id, cosine, CAST(rn AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
  FROM scored
) WHERE rn <= 5
"""


@register(
    "llm_ann_lsh_topk",
    oracle=_emb_lsh_topk_oracle(),
    doc=(
        "ANN top-k via LSH inverted lists (bucket equi-join + exact re-rank "
        "of candidates) -- the scale path next to llm_ann_topk_cosine's "
        "brute force; cost ~ bucket occupancy, not corpus size."
    ),
)
def llm_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.lsh_topk(t.embeddings, k=5, query_max_id=10)


# ---------------------------------------------------------------------------
# Approx distinct (SURVEY 2.9 free tier; HLL differs per engine -> the
# catalog pairs it with an exact-distinct oracle-checked twin)
# ---------------------------------------------------------------------------
@register(
    "q_distinct_users_exact",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
    doc="Exact count-distinct twin of the HLL query below.",
)
def q_distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    return t.events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


@register(
    "q_distinct_users_approx",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       TRUE AS sketch_ok
FROM events GROUP BY event_type
""",
    doc=(
        "approx_count_distinct (HyperLogLog++): mergeable, bounded-memory"
        " -- the count-distinct that scales, and the plan that is BENCHED."
        " HLL sketches differ across engines, so the estimate cannot be"
        " hash-compared directly; this entry checks the deterministic"
        " invariants (estimate >= 1 on a non-empty group, and estimate <="
        " row count -- true distinct <= rows and the 8% error envelope is"
        " far below the rows/distinct ratio of this table, ~13x at every"
        " SF) while the epsilon check against exact countDistinct lives in"
        " q_distinct_users_approx_check, which is NOT benched (its exact"
        " twin's full distinct shuffle is exactly what HLL removes at the"
        " 100 TB design point)."
    ),
)
def q_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    agg = t.events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_n_ap"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "n_events",
        (
            (F.col("_n_ap") >= 1) & (F.col("_n_ap") <= F.col("n_events"))
        ).alias("sketch_ok"),
    )


@register(
    "q_distinct_users_approx_check",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       CAST(0 AS BIGINT) AS err_over_bound,
       TRUE AS within_bounds
FROM events GROUP BY event_type
""",
    doc=(
        "Epsilon-check twin of q_distinct_users_approx: sketch and exact"
        " countDistinct in one agg. within_bounds = relative error <= 8%"
        " (4x rsd=0.02, ~4 sigma -- a tolerance a data-distribution or"
        " Spark HLL++ implementation shift cannot plausibly breach)."
        " err_over_bound = 0 when rel_err <= 0.08 else floor(rel_err /"
        " 0.08): 0 everywhere within bounds and the multiple of the bound"
        " on a breach. Both columns derive from the SAME <= comparison, so"
        " a boundary-exact error (rel_err == 0.08 gives floor = 1 but"
        " within_bounds TRUE) cannot split them (ADVICE r5; r4: the old"
        " nearest-10% rounding silently re-tightened the effective"
        " tolerance to 5%). Exists for falsifiability only; NOT benched."
    ),
)
def q_distinct_users_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    agg = t.events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_n_ap"),
    )
    rel_err = F.abs(F.col("_n_ap") - F.col("n_users_exact")) / F.col(
        "n_users_exact"
    )
    return agg.select(
        "event_type",
        "n_users_exact",
        # derived from the SAME comparison as within_bounds (<=), not a
        # bare floor(err/bound): floor alone reads 1 at a boundary-exact
        # rel_err == 0.08 while within_bounds reads TRUE, and the oracle
        # pins the in-bounds pair to exactly (0, TRUE)
        F.when(rel_err <= 0.08, F.lit(0))
        .otherwise(F.floor(rel_err / 0.08))
        .cast("bigint")
        .alias("err_over_bound"),
        (rel_err <= 0.08).alias("within_bounds"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (bottom-1 sketch anchoring + exact verify)
# ---------------------------------------------------------------------------
@register(
    "llm_neardup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLE_CTES},
anchored AS (SELECT doc_id, xs, list_min(xs) AS anchor FROM docs),
pairs AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         round(CAST(len(list_intersect(a.xs, b.xs)) AS DOUBLE)
               / len(list_distinct(list_concat(a.xs, b.xs))), 6) AS jaccard
  FROM anchored a JOIN anchored b ON a.anchor = b.anchor AND a.doc_id < b.doc_id
)
SELECT DISTINCT doc_i, doc_j, jaccard FROM pairs WHERE jaccard >= 0.4
""",
    doc=(
        "n-gram Jaccard near-dup: candidates share their MINIMUM 3-gram "
        "shingle hash (bottom-1 sketch: P(candidate) = true Jaccard), then "
        "exact set Jaccard verifies. Cheaper candidate stage than the banded "
        "MinHash variant: no signature, one anchor key per doc. This "
        "uncapped path shuffles (anchor, doc_id, xs) through its one "
        "anchor join; the capped path's candidate stage shuffles "
        "(anchor, doc_id) only and re-joins xs per candidate. "
        "UNCAPPED ORACLE/BASELINE, not the production path: a hot anchor "
        "(a very common minimum shingle) makes the candidate join "
        "quadratic in that anchor's width. At scale pass anchor_cap "
        "(dedup.ngram_jaccard_pairs threads it to bucket_pairs: cap_bucket + "
        "star_pairs, the same guard the capped LSH twins use); keep "
        "this entry for recall certification on bounded samples."
    ),
)
def llm_neardup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return DD.ngram_jaccard_pairs(t.documents, jaccard_threshold=0.4)


# ---------------------------------------------------------------------------
# ANN top-k via IVF coarse quantization (probe nprobe cells, re-rank)
# ---------------------------------------------------------------------------
def _cos_sql(av: str, bv: str, digits: int) -> str:
    return (
        f"round(list_sum(list_transform(range(1, {SIM.DIM} + 1), i -> {av}[i] * {bv}[i]))"
        f" / (sqrt(list_sum(list_transform(range(1, {SIM.DIM} + 1), i -> {av}[i] * {av}[i])))"
        f" * sqrt(list_sum(list_transform(range(1, {SIM.DIM} + 1), i -> {bv}[i] * {bv}[i])))), {digits})"
    )


def _ivf_ctes(n_iter: int) -> list[str]:
    """Shared CTE prefix of the IVF/k-means oracles: embeddings, the
    deterministic initial codebook (min vec_id per label), ``n_iter``
    fixed-point Lloyd refinement rounds, and the final per-vector
    ``ranked``/``assigned`` cell assignment (csim kept). Reused by
    ``_ivf_oracle`` here and the clustering-view oracle in
    catalog/mining_ops.py so the two can never drift."""
    ctes = [
        """e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
)""",
        """cents0 AS (
  SELECT vec_id AS cid, v AS cv FROM e
  WHERE vec_id IN (SELECT min(vec_id) FROM embeddings GROUP BY label)
)""",
    ]
    for r in range(n_iter):
        ctes.append(f"""sims{r} AS (
  SELECT e.vec_id, e.v, c.cid, {_cos_sql('e.v', 'c.cv', 9)} AS csim
  FROM e CROSS JOIN cents{r} c
), ranked{r} AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crank
  FROM sims{r}
), memb{r} AS (
  SELECT vec_id, v, cid AS cell FROM ranked{r} WHERE crank = 1
), q{r} AS (
  SELECT cell, ii.i AS i,
         CAST(floor(v[ii.i] * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM memb{r}, (SELECT unnest(range(1, {SIM.DIM} + 1)) AS i) ii
), m{r} AS (
  SELECT cell, i, sum(q) AS s, count(*) AS n FROM q{r} GROUP BY cell, i
), cents{r + 1} AS (
  SELECT cell AS cid, list((CAST(s AS DOUBLE) / n) / 1000000.0 ORDER BY i) AS cv
  FROM m{r} GROUP BY cell
)""")
    ctes.append(f"""sims AS (
  SELECT e.vec_id, e.v, c.cid, {_cos_sql('e.v', 'c.cv', 9)} AS csim
  FROM e CROSS JOIN cents{n_iter} c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crank
  FROM sims
), assigned AS (
  SELECT vec_id, v, cid AS cell, csim FROM ranked WHERE crank = 1
)""")
    return ctes


def _ivf_oracle(n_iter: int = 0, nprobe: int = 3, qmax: int = 10) -> str:
    """IVF top-k oracle generator, mirroring SIM.ivf_topk with n_iter
    Lloyd refinement rounds. The refinement is exactly mirrorable because
    centroid means go through fixed-point BIGINT sums (order-independent)
    and every float expression has identical operand order both engines."""
    ctes = _ivf_ctes(n_iter)
    ctes.append(f"""probes AS (
  SELECT vec_id AS qid, v AS qv, cid AS cell FROM ranked
  WHERE crank <= {nprobe} AND vec_id < {qmax}
), cand AS (
  SELECT DISTINCT p.qid, p.qv, a.vec_id AS nid, a.v AS nv
  FROM probes p JOIN assigned a ON p.cell = a.cell AND a.vec_id <> p.qid
), scored AS (
  SELECT qid, nid, {_cos_sql('qv', 'nv', 6)} AS cosine FROM cand
)""")
    return "WITH " + ",\n".join(ctes) + """
SELECT qid AS query_id, nid AS neighbor_id, cosine, CAST(rn AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
  FROM scored
) WHERE rn <= 5
"""


@register(
    "llm_ann_ivf_topk",
    oracle=_ivf_oracle(n_iter=0, nprobe=5),
    doc=(
        "ANN top-k via IVF: deterministic coarse quantizer (stand-in for "
        "offline k-means), broadcast-centroid assignment, queries probe "
        "nprobe=5 cells and exact-re-rank. The third ANN path next to brute "
        "force and LSH; at scale the corpus is bucketed by cell. nprobe "
        "was raised 3 -> 5 in r11 after the first recall-at-scale sweep "
        "(tools/ann_recall.py, 200-query panel): the label-seeded C=10 "
        "cells overlap enough on this corpus that nprobe=3 measured "
        "recall@5 0.61/0.65 at sf1/sf10 (the 10-query panel's 0.86 was "
        "small-sample luck); nprobe=5 measures 0.72-0.83 across "
        "sf0.01..sf10. An adaptive C~N/200 sub-seeded codebook (+Lloyd) "
        "was A/B-measured and NOT better per candidate on this corpus "
        "(0.756 probing 16 of 100 cells vs 0.791 probing 5 of 10) -- "
        "neighbor structure here is label-wide, so fatter probes win."
    ),
)
def llm_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.ivf_topk(t.embeddings, k=5, query_max_id=10, nprobe=5)


@register(
    "llm_ann_ivf_kmeans_topk",
    oracle=_ivf_oracle(n_iter=1, nprobe=5),
    doc=(
        "IVF with one deterministic Lloyd refinement round: members'"
        " fixed-point component sums (order-independent BIGINTs) rebuild"
        " each cell's centroid as the exact member mean, then assignment/"
        "probe as in llm_ann_ivf_topk (nprobe=5 since r11, same"
        " recall-at-scale rationale -- the refined variant measures"
        " recall@5 0.773/0.776/0.828 at sf0.01/sf0.1/sf10 on the"
        " 200-query panel, vs 0.627-0.731 at nprobe=3/4); the refinement"
        " stays hash-checkable against DuckDB because no float sum"
        " depends on partition order."
    ),
)
def llm_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.ivf_topk(t.embeddings, k=5, query_max_id=10, nprobe=5, kmeans_iters=1)


@register(
    "llm_ann_ivf_hybrid_topk",
    oracle=None,  # assigned below: byte-identical to the brute-force oracle
    doc=(
        "Floor-carrying ANN (r13): the IVF probe's candidates UNIONED"
        " with the global int8 two-phase pool as an exact safety net, one"
        " shared exact re-rank (similarity.ivf_sq8_hybrid_topk). Built"
        " after the committed routing measurement (IVFROUTE_r13.json, now"
        " the ivf routing block of tools/ann_recall.py) measured that NO"
        " per-query signal -- probe"
        " margin, boundary gap, or retrieved-cosine -- separates the"
        " quantizer-resolution-bound recall-tail offenders below a 0.25"
        " routed fraction at every scale, so a per-query min-recall floor"
        " requires a net over every query, not routing. min recall >= the"
        " net's pool survival by construction (1.0 measured; >= 0.4"
        " asserted per snapshot in tools/ann_recall.py). Certified"
        " against the brute-force oracle itself: like the quantized"
        " query, the net must be output-invisible."
    ),
)
def llm_ann_ivf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.ivf_sq8_hybrid_topk(t.embeddings, k=5, query_max_id=10, nprobe=5)


_hspec = QUERIES["llm_ann_ivf_hybrid_topk"]
QUERIES["llm_ann_ivf_hybrid_topk"] = type(_hspec)(
    name=_hspec.name,
    fn=_hspec.fn,
    oracle=QUERIES["llm_ann_topk_cosine"].oracle,
    doc=_hspec.doc,
)


# ---------------------------------------------------------------------------
# Multimodal decode: Arrow-batched mapInPandas over BINARY payloads
# ---------------------------------------------------------------------------
@register(
    "llm_multimodal_decode",
    oracle="""
WITH sized AS (
  SELECT doc_id, octet_length(encode(text)) AS n_raw, doc_id % 4 AS kind
  FROM documents
)
SELECT doc_id,
       CASE kind WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                 WHEN 2 THEN 'image/jpeg'
                 ELSE 'application/octet-stream' END AS mime,
       CAST(CASE WHEN kind IN (0, 1, 2) THEN 1 + doc_id % 1920
                 ELSE 1 + (n_raw % 512) END AS INTEGER) AS width,
       CAST(CASE WHEN kind IN (0, 1, 2) THEN 1 + doc_id % 1080
                 ELSE 1 + ((n_raw * 7) % 512) END AS INTEGER) AS height,
       CAST(n_raw + CASE kind WHEN 0 THEN 24 WHEN 1 THEN 10
                              WHEN 2 THEN 11 ELSE 0 END AS BIGINT) AS n_bytes
FROM sized
""",
    doc=(
        "Multimodal decode (multimodal/decode.py): payloads ride as opaque "
        "BINARY; the decode is an Arrow-batched mapInPandas stage. "
        "Dimensions are REAL byte-parsed headers (PNG IHDR / GIF logical "
        "screen descriptor / JPEG SOF0 scan -- no codec lib); only the "
        "full-pixel fallback for unknown formats is the deterministic fake. "
        "The fixture synthesizes valid headers JVM-side (unhex/concat), so "
        "the oracle checks the parser against the widths/heights it framed."
    ),
)
def llm_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.decode import decode_images

    t = load_tables(spark, sf_dir, ["documents"])
    kind = F.col("doc_id") % 4
    w = (F.col("doc_id") % 1920 + 1).cast("int")
    h = (F.col("doc_id") % 1080 + 1).cast("int")
    w_be4, h_be4 = F.lpad(F.hex(w), 8, "0"), F.lpad(F.hex(h), 8, "0")
    w_be2, h_be2 = F.lpad(F.hex(w), 4, "0"), F.lpad(F.hex(h), 4, "0")
    w_le2 = F.concat(F.substring(w_be2, 3, 2), F.substring(w_be2, 1, 2))
    h_le2 = F.concat(F.substring(h_be2, 3, 2), F.substring(h_be2, 1, 2))
    enc = F.encode("text", "UTF-8")
    png = F.unhex(F.concat(F.lit("89504E470D0A1A0A0000000D49484452"), w_be4, h_be4))
    gif = F.unhex(F.concat(F.lit("474946383961"), w_le2, h_le2))
    jpg = F.unhex(F.concat(F.lit("FFD8FFC0001108"), h_be2, w_be2))
    payloads = t.documents.select(
        "doc_id",
        F.when(kind == 0, F.concat(png, enc))
        .when(kind == 1, F.concat(gif, enc))
        .when(kind == 2, F.concat(jpg, enc))
        .otherwise(enc)
        .alias("payload"),
    )
    return decode_images(payloads, fake=True).select(
        "doc_id",
        "mime",
        "width",
        "height",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# Near-dup CLUSTERS: connected components over the pair graph
# ---------------------------------------------------------------------------
_PAIRS_05_CTES = f"""
bands AS (
  SELECT doc_id, b.b AS b,
    b.b::VARCHAR || '-' || array_to_string(list_slice(sig, b.b*4 + 1, b.b*4 + 4), '-') AS band_key
  FROM sig, (SELECT unnest(range({DD.N_BANDS})) AS b) b
), cand AS (
  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
  FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
), goodpairs AS (
  SELECT c.i AS doc_i, c.j AS doc_j
  FROM cand c JOIN docs a ON a.doc_id = c.i JOIN docs b ON b.doc_id = c.j
  WHERE round(len(list_intersect(a.xs, b.xs))::DOUBLE
              / len(list_distinct(list_concat(a.xs, b.xs))), 6) >= 0.5
)
"""

# CAPPED pair-graph prefix: same goodpairs contract, but every band
# bucket keeps only its _LSH_CAP lowest doc_ids for the all-pairs
# self-join (the QUALIFY mirror of operators/dedup.cap_bucket), and
# every bucket member additionally pairs with the bucket's min doc_id
# (the mirror of dedup.star_pairs) so beyond-cap members of a hot
# bucket keep a verified edge. The graph-level ops (clusters,
# keep-best, PageRank) build their edges from THIS prefix: one
# boilerplate bucket contributes cap*(cap-1)/2 + (width-cap)
# candidates -- linear, and no member orphaned -- at 100 TB.
_PAIRS_05_CAPPED_CTES = f"""
bands_all AS (
  SELECT doc_id, b.b AS b,
    b.b::VARCHAR || '-' || array_to_string(list_slice(sig, b.b*4 + 1, b.b*4 + 4), '-') AS band_key
  FROM sig, (SELECT unnest(range({DD.N_BANDS})) AS b) b
), bands AS (
  SELECT doc_id, band_key FROM bands_all
  QUALIFY row_number() OVER (PARTITION BY band_key ORDER BY doc_id) <= {_LSH_CAP}
), band_anchors AS (
  SELECT band_key, min(doc_id) AS a FROM bands_all GROUP BY band_key
), cand AS (
  SELECT DISTINCT i, j FROM (
    SELECT l.doc_id AS i, r.doc_id AS j
    FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
    UNION ALL
    SELECT an.a AS i, ba.doc_id AS j
    FROM bands_all ba JOIN band_anchors an USING (band_key)
    WHERE ba.doc_id > an.a
  )
), goodpairs AS (
  SELECT c.i AS doc_i, c.j AS doc_j
  FROM cand c JOIN docs a ON a.doc_id = c.i JOIN docs b ON b.doc_id = c.j
  WHERE round(len(list_intersect(a.xs, b.xs))::DOUBLE
              / len(list_distinct(list_concat(a.xs, b.xs))), 6) >= 0.5
)
"""


@register(
    "llm_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_SHINGLE_CTES}, {_MINHASH_SIG_SQL}, {_PAIRS_05_CAPPED_CTES},
edges AS (
  SELECT doc_i AS s, doc_j AS d FROM goodpairs
  UNION ALL
  SELECT doc_j, doc_i FROM goodpairs
), nodes AS (SELECT DISTINCT s AS node FROM edges),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node
)
SELECT node AS doc_id, min(lab) AS cluster_id,
       min(lab) = node AS is_keeper
FROM reach GROUP BY node
""",
    doc=(
        "Near-dup CLUSTERING: connected components over the CAPPED "
        "MinHash-LSH pair graph via iterative min-label propagation "
        "(driver loop, storage-backed checkpoint per round -- "
        "dedup.neardup_clusters). Turns pairs into the dedup decision: "
        f"keep min doc_id per cluster. Edges use bucket_cap={_LSH_CAP} "
        "(dedup.cap_bucket + dedup.star_pairs), so a boilerplate-heavy "
        "band bucket emits cap*(cap-1)/2 self-join pairs plus width-1 "
        "anchor star edges -- corpus-linear at 100 TB, and every hot-"
        "bucket member keeps an edge into the cluster (beyond-cap "
        "members attach via the star even when identical signatures "
        "collapse all 4 bands into one bucket). The oracle computes the "
        "same components with a recursive CTE over the identically-"
        "capped-and-starred pair prefix."
    ),
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return DD.neardup_clusters(
        t.documents, jaccard_threshold=0.5, bucket_cap=_LSH_CAP
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------
@register(
    "llm_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM documents
), tf AS (
  SELECT doc_id, lower(w) AS term, count(*) AS cnt FROM toks GROUP BY 1, 2
), doclen AS (
  SELECT doc_id, sum(cnt) AS n_tok FROM tf GROUP BY doc_id
), df AS (
  SELECT term, count(DISTINCT doc_id) AS n_docs FROM tf GROUP BY term
), n AS (SELECT count(*) AS total_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round((tf.cnt::DOUBLE / doclen.n_tok) * ln(n.total_docs::DOUBLE / df.n_docs), 6)
           AS tfidf
  FROM tf JOIN doclen USING (doc_id) JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, CAST(rn AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
) WHERE rn <= 5
""",
    doc=(
        "TF-IDF top-5 terms per document. Scale shape: ONE explode ->"
        " (doc, term) partial-agg shuffle, persisted so the document-"
        "frequency branch re-aggregates the counted frame by contract"
        " (not by relying on runtime exchange reuse); per-doc length"
        " rides a doc_id window on the same frame (bounded by per-doc"
        " distinct terms), so the only join is the vocabulary table"
        " coming back on term -- it carries (term, count) pairs only,"
        " broadcast when it fits (AQE decides; hashed vocab tiers at"
        " 100 TB). Ranking on the ROUNDED score with a term tiebreak"
        " keeps top-5 deterministic across engines."
    ),
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t.documents.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("w")
    )
    tf = persist_artifact(
        toks.groupBy("doc_id", F.lower("w").alias("term")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    # tf is already distinct per (doc_id, term) -- a plain count IS the
    # document frequency; countDistinct here would force a second
    # expand/dedup shuffle skewed on hot terms ("the" hits every doc).
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("n_docs"))
    n = t.documents.agg(F.count(F.lit(1)).alias("total_docs"))
    scored = (
        tf.withColumn("n_tok", F.sum("cnt").over(W.partitionBy("doc_id")))
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("cnt").cast("double") / F.col("n_tok"))
                * F.log(F.col("total_docs").cast("double") / F.col("n_docs")),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Corpus curation: quality gate + lang filter + exact-dedup keeper, one pass
# ---------------------------------------------------------------------------
@register(
    "llm_corpus_curation",
    oracle=f"""
WITH m AS (
  SELECT doc_id, lang, text,
         CAST(len({_TOKENS_SQL}) AS DOUBLE) AS n_tok,
         CAST(length(text) AS DOUBLE) AS n_chr,
         CAST(len(list_filter({_TOKENS_SQL},
              x -> list_contains(['the','a','of','and','to','in','is','it'], lower(x))))
              AS DOUBLE) AS n_stop,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS n_punct
  FROM documents
), scored AS (
  SELECT doc_id, lang,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm_text,
         round(greatest(0.0, least(1.0,
           0.4 * least(n_tok / 64.0, 1.0)
           + 0.4 * (1.0 - n_punct / greatest(n_chr, 1.0))
           + 0.2 * (n_stop / greatest(n_tok, 1.0)) * 4.0)), 6) AS quality
  FROM m
), gated AS (
  SELECT * FROM scored WHERE quality >= 0.5 AND lang IN ('en', 'es')
), ranked AS (
  SELECT doc_id, lang, quality,
         row_number() OVER (PARTITION BY md5(norm_text) ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY md5(norm_text)) AS n_copies
  FROM gated
)
SELECT doc_id, lang, quality, CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1
""",
    doc=(
        "Corpus curation in ONE pass: quality gate (length/punct/stopword"
        " heuristics) + language allow-list + exact-dedup keeper selection"
        " (first doc_id per normalized-text hash, window over md5 key)."
        " The composition every pre-training data pipeline runs before the"
        " expensive near-dup stage; filters run BEFORE the dedup shuffle so"
        " the window only sees surviving docs."
    ),
)
def llm_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    scored = t.documents.select(
        "doc_id",
        "lang",
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ").alias("norm_text"),
        TX.quality_score(F.col("text")).alias("quality"),
    )
    gated = scored.filter((F.col("quality") >= 0.5) & F.col("lang").isin("en", "es"))
    w = W.partitionBy(F.md5("norm_text")).orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(W.partitionBy(F.md5("norm_text"))))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "quality", F.col("n_copies").cast("bigint").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing: emails / phones / URLs)
# ---------------------------------------------------------------------------
# Conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB):
# character classes + bounded repetition only, no lookaround.
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_RE = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
_PII_URL_RE = "https?://[^ ]+"


@register(
    "llm_pii_redact",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS INTEGER) AS n_phones,
       CAST(len(regexp_extract_all(text, '{_PII_URL_RE}')) AS INTEGER) AS n_urls,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PII_PHONE_RE}', '<PHONE>', 'g'),
             '{_PII_URL_RE}', '<URL>', 'g')) AS redacted_hash
FROM documents
""",
    doc=(
        "PII scrub for training corpora: redact emails/phones/URLs to typed"
        " placeholders and count hits per document (the audit trail). Pure"
        " Column regexps -- one codegen stage, zero shuffles, embarrassingly"
        " parallel at any corpus size; the hash of the redacted text is"
        " compared instead of the full body so the oracle check never ships"
        " documents. Patterns are deliberately lookaround-free so Java regex"
        " and RE2 agree byte-for-byte."
    ),
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL_RE, "<EMAIL>"),
            _PII_PHONE_RE,
            "<PHONE>",
        ),
        _PII_URL_RE,
        "<URL>",
    )
    return t.documents.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count("text", F.lit(_PII_URL_RE)).cast("int").alias("n_urls"),
        F.md5(redacted).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new snapshot vs kept-fingerprint table
# ---------------------------------------------------------------------------
@register(
    "llm_dedup_incremental",
    oracle="""
WITH normed AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), prior AS (
  SELECT DISTINCT fp FROM normed WHERE doc_id % 5 <> 0
), incoming AS (
  SELECT * FROM normed WHERE doc_id % 5 = 0
)
SELECT i.doc_id, i.fp AS text_hash,
       p.fp IS NOT NULL AS already_seen
FROM incoming i LEFT JOIN prior p ON i.fp = p.fp
""",
    doc=(
        "Incremental (cross-snapshot) dedup: an incoming batch checks its"
        " normalized-text fingerprints against the kept-fingerprint table of"
        " all prior snapshots instead of re-deduping the whole corpus. At"
        " 100 TB the prior side is a bucketed-by-fp table, so the probe is a"
        " co-partitioned join shuffling 32-byte keys for the NEW batch only"
        " -- cost scales with the increment, not corpus history. Here the"
        " prior/incoming split is synthesized from doc_id (mod 5)."
    ),
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    normed = t.documents.select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        ).alias("fp"),
    )
    prior = normed.filter(F.col("doc_id") % 5 != 0).select("fp").distinct()
    incoming = normed.filter(F.col("doc_id") % 5 == 0)
    return (
        incoming.join(
            prior.select(F.col("fp").alias("p_fp")),
            incoming.fp == F.col("p_fp"),
            "left",
        )
        .select(
            "doc_id",
            F.col("fp").alias("text_hash"),
            F.col("p_fp").isNotNull().alias("already_seen"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus n-gram counts (frequency analysis / contamination checks)
# ---------------------------------------------------------------------------
@register(
    "llm_ngram_counts",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> t[i] || ' ' || t[i+1])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n
FROM grams GROUP BY bigram
HAVING count(*) >= 10
""",
    doc=(
        "Corpus-level bigram frequencies (the contamination / boilerplate"
        " frequency sweep): tokenize, emit adjacent pairs, partial-agg"
        " count with a HAVING floor so the output is the heavy tail only."
        " At 100 TB the explode fans out but the map-side partial aggregate"
        " collapses each partition's counts before the single shuffle;"
        " the >=10 floor keeps the result bounded."
    ),
)
def llm_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t.documents.select(
        "doc_id", TX.tokens(F.lower(F.col("text"))).alias("t")
    )
    grams = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("t", i), F.element_at("t", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 10)
    )


# ---------------------------------------------------------------------------
# Multimodal audio features: REAL PCM16 WAV parsing (no codec lib)
# ---------------------------------------------------------------------------
@register(
    "llm_audio_features",
    oracle="""
WITH spec AS (
  SELECT doc_id,
         100 + doc_id % 50 AS n_samples,
         doc_id % 1000 AS amp
  FROM documents
)
SELECT doc_id,
       CAST(44 + n_samples * 2 AS BIGINT) AS n_bytes,
       round(n_samples * 2 / 16000.0, 6) AS duration_sec,
       CAST(amp AS DOUBLE) AS rms_x32768
FROM spec
""",
    doc=(
        "Audio feature extraction with REAL PCM16 WAV parsing"
        " (multimodal/decode.parse_wav_pcm16): RIFF chunk walk -> fmt/data,"
        " duration from byte rate, RMS over int16 samples via numpy -- no"
        " codec library. The fixture frames valid 8kHz mono WAVs JVM-side"
        " (constant amplitude = doc_id mod 1000, so RMS has the closed form"
        " amp/32768 the oracle checks; float-exact because 32768 is a power"
        " of two and the squared-sum stays inside 53 significand bits)."
    ),
)
def llm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.decode import extract_audio_features

    t = load_tables(spark, sf_dir, ["documents"])
    n_samples = (F.col("doc_id") % 50 + 100).cast("int")
    amp = (F.col("doc_id") % 1000).cast("int")
    data_sz = (n_samples * 2).cast("int")
    # chunk sizes, little-endian hex helpers
    le4 = lambda c: F.concat(  # noqa: E731
        *[
            F.substring(F.lpad(F.hex(c), 8, "0"), i, 2)
            for i in (7, 5, 3, 1)
        ]
    )
    le2 = lambda c: F.concat(  # noqa: E731
        F.substring(F.lpad(F.hex(c), 4, "0"), 3, 2),
        F.substring(F.lpad(F.hex(c), 4, "0"), 1, 2),
    )
    riff_sz = (F.lit(36) + data_sz).cast("int")
    # fmt: PCM(1), mono(1), 8000 Hz, byte_rate 16000, block 2, bits 16
    fmt = F.lit("666D7420" + "10000000" + "0100" + "0100"
                + "401F0000" + "803E0000" + "0200" + "1000")
    sample_le = le2(amp)
    payload = F.unhex(
        F.concat(
            F.lit("52494646"), le4(riff_sz), F.lit("57415645"),
            fmt,
            F.lit("64617461"), le4(data_sz),
            F.repeat(sample_le, n_samples),
        )
    )
    payloads = t.documents.select("doc_id", payload.alias("payload"))
    # rms itself can tie at the 6th decimal (k/2^15 expansions) where
    # Python rounds half-even and DuckDB half-away; rms*32768 = amp is an
    # integer-valued float on both engines -- tie-free.
    return extract_audio_features(payloads).select(
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "duration_sec",
        F.round(F.col("rms") * 32768.0, 0).alias("rms_x32768"),
    )


# ---------------------------------------------------------------------------
# Multimodal image resize: REAL BMP decode -> nearest-neighbor -> re-encode
# ---------------------------------------------------------------------------
def _bmp_header_hex(width: int, height: int) -> str:
    """Constant 54-byte BMP header for fixed out-dims (hex, uppercase)."""
    import numpy as np

    from ..multimodal.decode import encode_bmp

    return encode_bmp(np.zeros((height, width, 3), dtype=np.uint8))[:54].hex().upper()


_RESIZE_W, _RESIZE_H = 6, 4
_OUT_HDR = _bmp_header_hex(_RESIZE_W, _RESIZE_H)
_OUT_PAD = "00" * ((_RESIZE_W * 3 + 3) // 4 * 4 - _RESIZE_W * 3)


@register(
    "llm_image_resize",
    oracle=f"""
WITH spec AS (
  SELECT doc_id,
         printf('%02X%02X%02X', doc_id % 256, (doc_id * 7) % 256,
                (doc_id * 13) % 256) AS bgr
  FROM documents
)
SELECT doc_id,
       {_RESIZE_W} AS width, {_RESIZE_H} AS height,
       '{_OUT_HDR}' || repeat(repeat(bgr, {_RESIZE_W}) || '{_OUT_PAD}', {_RESIZE_H})
         AS resized_hex
FROM spec
""",
    doc=(
        "Image resize with a REAL decode/transform/re-encode loop for"
        " 24-bit uncompressed BMP (multimodal/decode: parse_bmp_pixels ->"
        " deterministic nearest-neighbor resample -> encode_bmp), no codec"
        " library. The fixture frames solid-color BMPs of per-doc dims"
        " JVM-side; resampling a solid image is the same solid image at the"
        " target dims, so the oracle constructs the expected output bytes"
        " in SQL and the full payload hex is compared."
    ),
)
def llm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.decode import resize_images

    t = load_tables(spark, sf_dir, ["documents"])
    w_in = (F.col("doc_id") % 8 + 1).cast("int")
    h_in = (F.col("doc_id") % 6 + 1).cast("int")
    le4 = lambda c: F.concat(  # noqa: E731
        *[F.substring(F.lpad(F.hex(c), 8, "0"), i, 2) for i in (7, 5, 3, 1)]
    )
    bgr = F.concat(
        F.lpad(F.hex(F.col("doc_id") % 256), 2, "0"),
        F.lpad(F.hex((F.col("doc_id") * 7) % 256), 2, "0"),
        F.lpad(F.hex((F.col("doc_id") * 13) % 256), 2, "0"),
    )
    row_size = F.floor((w_in * 3 + 3) / 4).cast("int") * 4
    img_size = (row_size * h_in).cast("int")
    row_hex = F.concat(
        F.repeat(bgr, w_in), F.repeat(F.lit("00"), (row_size - w_in * 3).cast("int"))
    )
    payload = F.unhex(
        F.concat(
            F.lit("424D"), le4((F.lit(54) + img_size).cast("int")),
            F.lit("00000000"), F.lit("36000000"), F.lit("28000000"),
            le4(w_in), le4(h_in), F.lit("0100"), F.lit("1800"),
            F.lit("00000000"), le4(img_size), F.lit("00" * 16),
            F.repeat(row_hex, h_in),
        )
    )
    payloads = t.documents.select("doc_id", payload.alias("payload"))
    return resize_images(payloads, width=_RESIZE_W, height=_RESIZE_H).select(
        "doc_id",
        "width",
        "height",
        F.hex("resized").alias("resized_hex"),
    )


@register(
    "llm_image_resize_multiformat",
    oracle=f"""
WITH spec AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                         WHEN 2 THEN 'gif' ELSE 'jpeg' END AS container,
         printf('%02X%02X%02X', doc_id % 256, (doc_id * 7) % 256,
                (doc_id * 13) % 256) AS bgr
  FROM documents
)
SELECT doc_id, container,
       {_RESIZE_W} AS width, {_RESIZE_H} AS height,
       '{_OUT_HDR}' || repeat(repeat(bgr, {_RESIZE_W}) || '{_OUT_PAD}', {_RESIZE_H})
         AS resized_hex
FROM spec
""",
    doc=(
        "Image resize across FOUR real codec paths with no codec library"
        " (multimodal/decode): 24-bit BMP (parse_bmp_pixels), 8-bit RGB PNG"
        " (parse_png_pixels -- stdlib zlib inflate + scanline unfilter), GIF"
        " (parse_gif_pixels -- real LZW decompression against the color"
        " table), and baseline JPEG (jpeg.parse_jpeg_pixels -- canonical"
        " Huffman decode + dequant + float IDCT; encode side emits 4:4:4"
        " RGB-component-id streams with all-ones quant tables, which is"
        " EXACTLY lossless on solid blocks). The fixture round-robins"
        " solid-color payloads through the four encoders per doc_id%4;"
        " resampling a solid image is the same solid at the target dims and"
        " every real path re-encodes to deterministic BMP, so all four"
        " containers converge to one closed-form output the oracle"
        " constructs in SQL -- a cross-codec consistency check."
    ),
)
def llm_image_resize_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..multimodal.decode import (
        encode_bmp,
        encode_gif,
        encode_png,
        resize_images,
    )

    t = load_tables(spark, sf_dir, ["documents"])

    def build(batches):
        from ..multimodal.jpeg import encode_jpeg

        encoders = [encode_bmp, encode_png, encode_gif, encode_jpeg]
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w_in, h_in = d % 8 + 1, d % 6 + 1
                bgr = np.zeros((h_in, w_in, 3), dtype=np.uint8)
                bgr[:, :] = [d % 256, d * 7 % 256, d * 13 % 256]
                out.append({"doc_id": d, "payload": encoders[d % 4](bgr)})
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    payloads = (
        t.documents.select("doc_id")
        .mapInPandas(
            build,
            schema=T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("payload", T.BinaryType()),
                ]
            ),
        )
    )
    resized = resize_images(payloads, width=_RESIZE_W, height=_RESIZE_H)
    container = (
        F.when(F.col("doc_id") % 4 == 0, "bmp")
        .when(F.col("doc_id") % 4 == 1, "png")
        .when(F.col("doc_id") % 4 == 2, "gif")
        .otherwise("jpeg")
    )
    return resized.select(
        "doc_id",
        container.alias("container"),
        "width",
        "height",
        F.hex("resized").alias("resized_hex"),
    )


# ---------------------------------------------------------------------------
# Video frame sampling: REAL animated-GIF block walk
# ---------------------------------------------------------------------------
@register(
    "llm_video_frames",
    oracle="""
WITH p AS (
  SELECT doc_id,
         doc_id % 4 + 2 AS n_frames,
         CAST(doc_id % 7 + 2 AS INTEGER) AS width,
         CAST(doc_id % 5 + 2 AS INTEGER) AS height
  FROM documents
), f AS (
  SELECT doc_id, unnest(range(0, n_frames, 2)) AS k, width, height FROM p
)
SELECT doc_id,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(21 + 22 * k AS INTEGER) AS frame_offset,
       width, height,
       CAST(k + 1 AS INTEGER) AS delay_cs,
       CAST(14 AS INTEGER) AS frame_bytes
FROM f
""",
    doc=(
        "Video frame sampling with a REAL animated-GIF block walk"
        " (multimodal/decode.parse_gif_frames): graphic-control-extension"
        " delays, image-descriptor offsets/dims, LZW sub-block chains --"
        " pure byte parsing, no codec lib; every 2nd frame sampled via"
        " the 1:N mapInPandas fan-out. The fixture frames valid GIF89a"
        " animations JVM-side (doc_id%4+2 frames of doc_id%7+2 x"
        " doc_id%5+2, frame k delayed k+1 cs), so every parsed offset/"
        "dim/delay has the closed form the oracle checks: frame k's"
        " descriptor starts at 13 + 22k + 8 and spans 14 bytes."
    ),
)
def llm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.decode import sample_video_frames

    t = load_tables(spark, sf_dir, ["documents"])
    n_frames = (F.col("doc_id") % 4 + 2).cast("int")
    w = (F.col("doc_id") % 7 + 2).cast("int")
    h = (F.col("doc_id") % 5 + 2).cast("int")
    le2 = lambda c: F.concat(  # noqa: E731
        F.substring(F.lpad(F.hex(c), 4, "0"), 3, 2),
        F.substring(F.lpad(F.hex(c), 4, "0"), 1, 2),
    )
    # frame k: 8-byte GCE (delay k+1 cs) + 10-byte descriptor (full
    # logical screen) + LZW min code size + one data sub-block + term
    frame_hex = lambda k: F.concat(  # noqa: E731
        F.lit("21F90400"), le2(k + 1), F.lit("0000"),
        F.lit("2C00000000"), le2(w), le2(h), F.lit("00"),
        F.lit("02018000"),
    )
    payload = F.unhex(
        F.concat(
            F.lit("474946383961"), le2(w), le2(h), F.lit("000000"),
            F.array_join(
                F.transform(F.sequence(F.lit(0), n_frames - 1), frame_hex), ""
            ),
            F.lit("3B"),
        )
    )
    payloads = t.documents.select("doc_id", payload.alias("payload"))
    return sample_video_frames(payloads, every_n=2).select(
        "doc_id",
        "frame_idx",
        F.col("offset").alias("frame_offset"),
        "width",
        "height",
        "delay_cs",
        F.col("n_bytes").alias("frame_bytes"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup ASSIGNMENT: star-per-LSH-bucket, linear output
# ---------------------------------------------------------------------------
def _semantic_assign_oracle() -> str:
    bit_exprs = ",\n  ".join(
        f"CASE WHEN list_sum(list_transform(range(1, {SIM.DIM} + 1), "
        f"i -> v[i] * ({SIM.sql_hyperplane_literal(k)})[i])) > 0 "
        f"THEN '1' ELSE '0' END AS b{k}"
        for k in range(SIM.N_PLANES)
    )
    k0 = " || ".join(["'0'"] + [f"b{k}" for k in range(0, SIM.BITS_PER_BAND)])
    k1 = " || ".join(["'1'"] + [f"b{k}" for k in range(SIM.BITS_PER_BAND, SIM.N_PLANES)])
    dot = (
        f"list_sum(list_transform(range(1, {SIM.DIM} + 1), x -> qv[x] * av[x]))"
    )
    nrm = "sqrt(list_sum(list_transform(range(1, {d} + 1), x -> {v}[x] * {v}[x])))"
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), bits AS (
  SELECT vec_id, v,
  {bit_exprs}
  FROM e
), keyed AS (
  SELECT vec_id, v, unnest([{k0}, {k1}]) AS bkey FROM bits
), anchors AS (
  SELECT bkey, min(vec_id) AS anchor FROM keyed GROUP BY bkey
), cand AS (
  SELECT DISTINCT k.vec_id, a.anchor
  FROM keyed k JOIN anchors a ON k.bkey = a.bkey AND k.vec_id > a.anchor
), scored AS (
  SELECT c.vec_id, c.anchor,
         round({dot}
           / ({nrm.format(d=SIM.DIM, v='qv')} * {nrm.format(d=SIM.DIM, v='av')}), 6)
           AS cosine
  FROM (SELECT c0.vec_id, c0.anchor, q.v AS qv, a.v AS av
        FROM cand c0 JOIN e q ON q.vec_id = c0.vec_id
                     JOIN e a ON a.vec_id = c0.anchor) c
)
SELECT vec_id, min(anchor) AS rep_id, arg_min(cosine, anchor) AS cosine
FROM scored WHERE cosine >= 0.35 GROUP BY vec_id
"""


@register(
    "llm_semantic_dedup_assign",
    oracle=_semantic_assign_oracle(),
    doc=(
        "Semantic (embedding-space) dedup ASSIGNMENT: each vector verifies"
        " against one anchor per LSH band bucket (bucket min vec_id) and"
        " assigns to its smallest verified anchor -- the linear-output twin"
        " of llm_simhash_dedup_assign for the embedding modality"
        " (operators/similarity.semantic_dedup_assign). Candidates are"
        " O(N x bands), output <= N rows however clustered the corpus is."
    ),
)
def llm_semantic_dedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return SIM.semantic_dedup_assign(t.embeddings, threshold=0.35)


# ---------------------------------------------------------------------------
# Training-data assembly: shuffle -> stratified sampling -> sequence packing
# ---------------------------------------------------------------------------
# The three steps every pre-training data pipeline runs AFTER curation and
# dedup: (1) a deterministic global shuffle that breaks source/crawl order,
# (2) mixture reweighting by downsampling dominant strata, (3) packing
# documents into fixed token-budget training sequences. All three are
# expressed so the "random" choices are pure md5 functions of doc_id --
# reproducible across engines (DuckDB oracle) AND across cluster sizes
# (no rand(), no partition-dependent state).

_DOC_KEY_SQL = "(('0x' || substr(md5(doc_id::VARCHAR || ':{salt}'), 1, 15))::BIGINT)"
N_SHARDS = 64
PACK_BUDGET = 512
SAMPLE_RATES = {"en": 300, "zh": 800}  # per-mille keep rates; others 1000


def _doc_key(salt: str) -> F.Column:
    """60-bit md5 key of doc_id under a salt -- the reproducible stand-in
    for rand() in shuffle/sample decisions (word_hash scheme, oracle-
    identical)."""
    return TX.word_hash(F.concat(F.col("doc_id").cast("string"), F.lit(f":{salt}")))


@register(
    "llm_train_shuffle",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, {_DOC_KEY_SQL.format(salt='shuf:ep1')} AS skey
  FROM documents
)
SELECT doc_id,
       CAST(skey % {N_SHARDS} AS BIGINT) AS shard_id,
       CAST(row_number() OVER (PARTITION BY skey % {N_SHARDS}
                               ORDER BY skey, doc_id) AS BIGINT) AS shard_pos
FROM keyed
""",
    doc=(
        "Deterministic global training shuffle (epoch-salted): every doc"
        " gets a 60-bit md5 key; shard_id = key mod N_SHARDS spreads docs"
        " uniformly over shards and shard_pos orders within the shard."
        " This is the cluster-scale form of 'shuffle the corpus each"
        " epoch': one hash-partition shuffle by shard plus a per-shard"
        " sort -- never a global ORDER BY (whose single range-partition"
        " pass is the thing that does not scale), never rand() (which is"
        " partition-order dependent and unreproducible on retry). A new"
        " epoch changes only the salt."
    ),
)
def llm_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    keyed = t.documents.select(
        "doc_id", _doc_key("shuf:ep1").alias("skey")
    ).withColumn("shard_id", (F.col("skey") % N_SHARDS).cast("bigint"))
    w = W.partitionBy("shard_id").orderBy("skey", "doc_id")
    return keyed.select(
        "doc_id",
        "shard_id",
        F.row_number().over(w).cast("bigint").alias("shard_pos"),
    )


@register(
    "llm_sample_stratified",
    oracle=f"""
SELECT doc_id, lang,
       CAST({_DOC_KEY_SQL.format(salt='strat')} % 1000 AS BIGINT) AS keep_bucket
FROM documents
WHERE {_DOC_KEY_SQL.format(salt='strat')} % 1000 <
      CASE lang WHEN 'en' THEN {SAMPLE_RATES['en']}
                WHEN 'zh' THEN {SAMPLE_RATES['zh']}
                ELSE 1000 END
""",
    doc=(
        "Stratified mixture sampling: per-language keep rates (en 30%,"
        " zh 80%, rest 100%) applied via a deterministic md5 bucket of"
        " doc_id -- the downsample-the-dominant-stratum step of corpus"
        " mixing. Pure per-row filter: no shuffle, no rand(), identical"
        " keep decisions at any scale/partitioning/retry, and the scan"
        " prunes to (doc_id, lang) only."
    ),
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    bucket = _doc_key("strat") % 1000
    rate = (
        F.when(F.col("lang") == "en", F.lit(SAMPLE_RATES["en"]))
        .when(F.col("lang") == "zh", F.lit(SAMPLE_RATES["zh"]))
        .otherwise(F.lit(1000))
    )
    return t.documents.filter(bucket < rate).select(
        "doc_id", "lang", bucket.cast("bigint").alias("keep_bucket")
    )


@register(
    "llm_pack_sequences",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(len(list_filter(str_split_regex(text, '\\s+'), x -> x <> ''))
              AS BIGINT) AS n_tokens,
         {_DOC_KEY_SQL.format(salt='shuf:ep1')} AS skey
  FROM documents
), sharded AS (
  SELECT doc_id, n_tokens, skey, skey % {N_SHARDS} AS shard_id FROM keyed
), packed AS (
  SELECT doc_id, shard_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard_id ORDER BY skey, doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM sharded
)
SELECT doc_id, CAST(shard_id AS BIGINT) AS shard_id, n_tokens,
       CAST(start_off // {PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(start_off % {PACK_BUDGET} AS BIGINT) AS seq_offset
FROM packed
""",
    doc=(
        "Sequence packing (concat-and-chunk): documents stream in shuffle"
        " order within each shard; a running token offset assigns each doc"
        " the training sequence (seq_id = start_offset div budget) and"
        " position where it begins. The GPT-style pack-then-split layout,"
        " computed as ONE per-shard cumulative-sum window -- packing is"
        " embarrassingly parallel across shards, so no global state and"
        " no driver loop; at 100 TB each shard packs independently"
        " exactly as the shuffle laid it out."
    ),
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    keyed = t.documents.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).alias("n_tokens"),
        _doc_key("shuf:ep1").alias("skey"),
    ).withColumn("shard_id", (F.col("skey") % N_SHARDS).cast("bigint"))
    w = (
        W.partitionBy("shard_id")
        .orderBy("skey", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = keyed.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.select(
        "doc_id",
        "shard_id",
        "n_tokens",
        # integer `div`, not double division + cast: the double path is
        # exact only below 2^53 cumulative tokens and the oracle's `//` is
        # exact everywhere (ADVICE r4)
        F.expr(f"start_off div {PACK_BUDGET}").alias("seq_id"),
        (F.col("start_off") % PACK_BUDGET).cast("bigint").alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# Video frame sampling, container #2: REAL MJPEG-in-AVI walk + pixel decode
# ---------------------------------------------------------------------------
@register(
    "llm_video_frames_mjpeg",
    oracle="""
WITH p AS (
  SELECT doc_id,
         doc_id % 4 + 2 AS n_frames,
         CAST(doc_id % 7 + 2 AS INTEGER) AS width,
         CAST(doc_id % 5 + 2 AS INTEGER) AS height
  FROM documents
), f AS (
  SELECT doc_id, unnest(range(0, n_frames, 2)) AS k, width, height FROM p
)
SELECT doc_id,
       CAST(k AS INTEGER) AS frame_idx,
       width, height,
       CAST(100000 AS INTEGER) AS us_per_frame,
       printf('%02X%02X%02X',
              (doc_id + 11 * k) % 256,
              (doc_id * 7 + 5 * k) % 256,
              (doc_id * 13 + 3 * k) % 256) AS pixel_hex
FROM f
""",
    doc=(
        "Video frame sampling over a SECOND real container: MJPEG-in-AVI"
        " (multimodal/avi.py walks the RIFF chunk tree; multimodal/jpeg.py"
        " decodes each sampled frame's pixels -- no codec library). The"
        " fixture encodes per-doc solid-color JPEG frames into minimal AVI"
        " files; the query samples every 2nd frame and emits the DECODED"
        " top-left pixel as hex, which the oracle reconstructs closed-form"
        " -- pixel-level proof the Huffman+IDCT decode ran, not just a"
        " container walk. Complements llm_video_frames (animated GIF)."
    ),
)
def llm_video_frames_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..multimodal.avi import encode_avi_mjpeg
    from ..multimodal.decode import sample_mjpeg_frames

    t = load_tables(spark, sf_dir, ["documents"])

    def build(batches):
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n, w_in, h_in = d % 4 + 2, d % 7 + 2, d % 5 + 2
                frames = []
                for k in range(n):
                    fr = np.zeros((h_in, w_in, 3), dtype=np.uint8)
                    fr[:, :] = (
                        (d + 11 * k) % 256,
                        (d * 7 + 5 * k) % 256,
                        (d * 13 + 3 * k) % 256,
                    )
                    frames.append(fr)
                out.append({"doc_id": d, "payload": encode_avi_mjpeg(frames)})
            yield pd.DataFrame(out, columns=["doc_id", "payload"])

    payloads = t.documents.select("doc_id").mapInPandas(
        build,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    return sample_mjpeg_frames(payloads, every_n=2)


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training docs overlapping an eval set
# ---------------------------------------------------------------------------
@register(
    "llm_decontaminate",
    oracle=f"""
WITH {_SHINGLE_CTES},
eval_grams AS (
  SELECT DISTINCT unnest(xs) AS g FROM docs WHERE doc_id < 50
), train_hits AS (
  -- xs is list_distinct per doc and eval_grams is DISTINCT, so the
  -- join emits unique (doc_id, g): plain count == count(DISTINCT)
  -- without the expensive distinct-agg path
  SELECT d.doc_id,
         count(g) AS n_shared_grams,
         len(d.xs) AS n_grams
  FROM docs d, unnest(d.xs) AS u(g)
  WHERE d.doc_id >= 50 AND g IN (SELECT g FROM eval_grams)
  GROUP BY d.doc_id, len(d.xs)
)
SELECT doc_id, CAST(n_shared_grams AS BIGINT) AS n_shared_grams,
       CAST(n_grams AS BIGINT) AS n_grams,
       round(CAST(n_shared_grams AS DOUBLE) / n_grams, 6) AS overlap,
       CAST(n_shared_grams AS DOUBLE) / n_grams >= 0.2 AS contaminated
FROM train_hits
""",
    doc=(
        "Benchmark DECONTAMINATION: flag training documents sharing word-"
        "3-gram shingles with a held-out eval set (docs with id < 50 stand"
        " in for the benchmark). The standard pre-training hygiene stage:"
        " eval n-grams form a (small) set that is inner-joined against the"
        " exploded training shingles -- shuffle carries (gram, doc_id)"
        " longs only, and at 100 TB the eval-gram side is a broadcast"
        " (benchmarks are tiny next to the corpus). Emits per-doc shared-"
        "gram counts and an overlap ratio with a 20% contamination flag;"
        " docs sharing nothing are clean and never leave the map side."
    ),
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = DD.shingled_docs(t.documents)
    eval_grams = (
        docs.filter(F.col("doc_id") < 50)
        .select(F.explode("xs").alias("g"))
        .distinct()
    )
    train = docs.filter(F.col("doc_id") >= 50).select(
        "doc_id", F.size("xs").alias("n_grams"), F.explode("xs").alias("g")
    )
    # xs is array_distinct per doc and eval_grams is distinct: the join
    # emits unique (doc_id, g), so a plain count equals countDistinct
    # without the expand-based distinct aggregation (the r1 TF-IDF trap)
    hits = train.join(F.broadcast(eval_grams), ["g"]).groupBy(
        "doc_id", "n_grams"
    ).agg(F.count("g").alias("n_shared_grams"))
    overlap = F.col("n_shared_grams").cast("double") / F.col("n_grams")
    return hits.select(
        "doc_id",
        F.col("n_shared_grams").cast("bigint").alias("n_shared_grams"),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.round(overlap, 6).alias("overlap"),
        (overlap >= 0.2).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys: multi-dimensional data clustering
# ---------------------------------------------------------------------------
_MORTON_BITS = 16


def _morton_sql(a: str, b: str) -> str:
    terms = []
    for i in range(_MORTON_BITS):
        terms.append(f"(({a} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({b} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@register(
    "q_zorder_layout",
    oracle=f"""
WITH d AS (
  SELECT event_id,
         user_id % 65536 AS u16,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) % 65536 AS d16
  FROM events
)
SELECT event_id,
       CAST({_morton_sql('u16', 'd16')} AS BIGINT) AS zkey,
       CAST({_morton_sql('u16', 'd16')} // 1048576 AS BIGINT) AS zbucket
FROM d
""",
    doc=(
        "Z-order (Morton) layout keys over (user_id, event day): bits of"
        " the two dimensions interleaved into one sort key, computed as"
        " pure integer arithmetic (32 shift-and-multiply terms, codegen'd"
        " JVM-side -- engine-neutral, no bit-twiddling builtins). At 100 TB"
        " this is the data-layout operator: write the fact table sorted by"
        " zkey (or partitioned by zbucket = zkey div 2^20) and parquet"
        " min/max row-group stats prune scans on EITHER dimension --"
        " point lookups by user AND time-range scans by day both skip most"
        " of the corpus, which one-dimensional sorting cannot give you."
    ),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    d = t.events.select(
        "event_id",
        (F.col("user_id") % 65536).alias("u16"),
        (
            F.floor(
                F.col("ts").cast("timestamp").cast("double") / F.lit(86400.0)
            ).cast("bigint")
            % 65536
        ).alias("d16"),
    )
    zkey = None
    for i in range(_MORTON_BITS):
        ua = (F.shiftright(F.col("u16"), i).bitwiseAND(F.lit(1))) * F.lit(1 << (2 * i))
        db = (F.shiftright(F.col("d16"), i).bitwiseAND(F.lit(1))) * F.lit(
            1 << (2 * i + 1)
        )
        term = ua + db
        zkey = term if zkey is None else zkey + term
    return d.select(
        "event_id",
        zkey.cast("bigint").alias("zkey"),
        F.floor(zkey / F.lit(1048576)).cast("bigint").alias("zbucket"),
    )


# ---------------------------------------------------------------------------
# Document chunking with overlap (RAG / context-window preparation)
# ---------------------------------------------------------------------------
CHUNK_LEN, CHUNK_STRIDE = 200, 150  # 50-char overlap


@register(
    "llm_chunk_documents",
    oracle=f"""
WITH n AS (
  SELECT doc_id, text, length(text) AS len,
         CAST(ceil(greatest(length(text) - {CHUNK_LEN}, 0)
              / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT) + 1 AS n_chunks
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_idx,
       CAST(k * {CHUNK_STRIDE} AS BIGINT) AS chunk_start,
       CAST(length(substr(text, k * {CHUNK_STRIDE} + 1, {CHUNK_LEN})) AS BIGINT)
         AS chunk_len,
       md5(substr(text, k * {CHUNK_STRIDE} + 1, {CHUNK_LEN})) AS chunk_md5
FROM n, unnest(range(0, n_chunks)) AS u(k)
""",
    doc=(
        "Document chunking with overlap (the RAG / context-window prep"
        " step): 200-char windows at a 150-char stride; the chunk count"
        " ceil((len-200)/150)+1 guarantees the final (possibly shorter)"
        " window reaches the end of the document. One"
        " posexplode(sequence) per doc -- embarrassingly parallel, no"
        " shuffle, chunk text hashed (md5) so the fan-out rows stay"
        " fixed-width; downstream embedding jobs join the hash back to"
        " the source text only for the chunks they actually process."
    ),
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    d = t.documents.filter(F.length("text") > 0).select(
        "doc_id",
        "text",
        (
            F.ceil(
                F.greatest(F.length("text") - CHUNK_LEN, F.lit(0))
                / F.lit(float(CHUNK_STRIDE))
            ).cast("bigint")
            + 1
        ).alias("n_chunks"),
    )
    chunks = d.select(
        "doc_id",
        "text",
        F.posexplode(F.sequence(F.lit(1), F.col("n_chunks"))).alias("chunk_idx", "_one"),
    ).drop("_one")
    piece = F.substring(
        F.col("text"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_LEN
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        (F.col("chunk_idx") * CHUNK_STRIDE).cast("bigint").alias("chunk_start"),
        F.length(piece).cast("bigint").alias("chunk_len"),
        F.md5(piece).alias("chunk_md5"),
    )
