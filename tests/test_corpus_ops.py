"""Corpus-maintenance/retrieval operators: reconstruction and subset
contracts the value-hash oracle can't express -- segment dedup must
reassemble untouched docs verbatim, the incremental LSH probe must
agree with the full self-join restricted to cross pairs, and the
two-phase top-k must equal a naive global ranking."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from groove_to_helpscout_migration_tool_spark import catalog
from groove_to_helpscout_migration_tool_spark.catalog.corpus_ops import (
    DELTA_MOD,
    RAG_TOP_K,
    SEG_W,
)
from groove_to_helpscout_migration_tool_spark.functions import text as TX
from groove_to_helpscout_migration_tool_spark.session import load_tables


def test_segment_dedup_reconstructs_untouched_docs(spark, sf_dir):
    """A doc that kept every segment must reassemble to its exact
    whitespace-normalized text; counts must be consistent; and the
    synthetic corpus must actually contain duplicated segments
    (otherwise the operator is testing nothing)."""
    t = load_tables(spark, sf_dir, ["documents"])
    out = catalog.QUERIES["llm_segment_dedup"].fn(spark, sf_dir)
    norm = t.documents.select(
        "doc_id", F.array_join(TX.tokens(F.col("text")), " ").alias("norm_text")
    )
    j = out.join(norm, ["doc_id"])
    assert j.filter(F.col("n_kept") > F.col("n_segments")).count() == 0
    full = j.filter(F.col("n_kept") == F.col("n_segments"))
    assert full.filter(F.col("kept_text") != F.col("norm_text")).count() == 0
    # expected segment totals: ceil(n_tokens / SEG_W) per non-empty doc
    expected = (
        t.documents.select(
            F.ceil(TX.token_count_ws(F.col("text")) / F.lit(float(SEG_W))).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    got = out.agg(F.sum("n_segments")).collect()[0][0]
    assert got == expected
    assert out.filter(F.col("n_kept") < F.col("n_segments")).count() > 0


def test_segment_dedup_keep_first_keeps_exactly_one_copy(spark, sf_dir):
    """Keep-first must retain exactly ONE copy of every distinct segment
    corpus-wide (total kept == distinct segment count) and dominate the
    drop-all-copies policy per doc."""
    from groove_to_helpscout_migration_tool_spark.catalog.corpus_ops import (
        _segment_table,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    kf = catalog.QUERIES["llm_segment_dedup_keep_first"].fn(spark, sf_dir)
    ccnet = catalog.QUERIES["llm_segment_dedup"].fn(spark, sf_dir)
    n_distinct = (
        _segment_table(t.documents).select("seg_hash").distinct().count()
    )
    assert kf.agg(F.sum("n_kept")).collect()[0][0] == n_distinct
    j = kf.select("doc_id", F.col("n_kept").alias("kf_kept")).join(
        ccnet.select("doc_id", F.col("n_kept").alias("cc_kept")), ["doc_id"]
    )
    assert j.filter(F.col("kf_kept") < F.col("cc_kept")).count() == 0


def test_segment_dedup_matches_pure_python(spark, sf_dir):
    """Full independent recount: segment the raw texts in Python, count
    corpus-wide, drop duplicated segments, reassemble -- must equal the
    distributed output row for row."""
    from collections import Counter

    t = load_tables(spark, sf_dir, ["documents"])
    texts = {r["doc_id"]: r["text"] for r in t.documents.collect()}
    counts: Counter = Counter()
    segged: dict[int, list[str]] = {}
    for d, txt in texts.items():
        toks = txt.split()
        segs = [
            " ".join(toks[i : i + SEG_W]) for i in range(0, len(toks), SEG_W)
        ]
        if segs:
            segged[d] = segs
            counts.update(segs)
    want = {
        d: (
            len(segs),
            sum(1 for s in segs if counts[s] == 1),
            " ".join(s for s in segs if counts[s] == 1),
        )
        for d, segs in segged.items()
    }
    got = {
        r["doc_id"]: (r["n_segments"], r["n_kept"], r["kept_text"])
        for r in catalog.QUERIES["llm_segment_dedup"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_substring_spans_match_pure_python(spark, sf_dir):
    """Independent recount of sliding-gram duplicate coverage."""
    from collections import Counter

    from groove_to_helpscout_migration_tool_spark.catalog.corpus_ops import SPAN_L

    t = load_tables(spark, sf_dir, ["documents"])
    texts = {r["doc_id"]: r["text"].split() for r in t.documents.collect()}
    counts: Counter = Counter()
    grams: dict[int, list[tuple[int, str]]] = {}
    for d, toks in texts.items():
        gs = [
            (s, " ".join(toks[s : s + SPAN_L]))
            for s in range(0, max(len(toks) - SPAN_L + 1, 0))
        ]
        grams[d] = gs
        counts.update(g for _, g in gs)
    want = {}
    for d, toks in texts.items():
        if not toks:
            continue
        covered = set()
        for s, g in grams[d]:
            if counts[g] > 1:
                covered.update(range(s, s + SPAN_L))
        want[d] = (len(toks), len(covered))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"])
        for r in catalog.QUERIES["llm_substring_dedup_spans"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want


def test_incremental_lsh_agrees_with_full_selfjoin(spark, sf_dir):
    """The delta-vs-base probe must equal the full LSH self-join output
    restricted to (delta, base) cross pairs -- same bands, same verify
    threshold, so the incremental path loses nothing."""
    inc = catalog.QUERIES["llm_neardup_incremental_lsh"].fn(spark, sf_dir)
    full = catalog.QUERIES["llm_neardup_minhash_lsh"].fn(spark, sf_dir)
    inc_pairs = {
        (min(r["new_doc_id"], r["base_doc_id"]), max(r["new_doc_id"], r["base_doc_id"]),
         r["jaccard"])
        for r in inc.collect()
    }
    full_cross = {
        (r["doc_i"], r["doc_j"], r["jaccard"])
        for r in full.collect()
        if (r["doc_i"] % DELTA_MOD == 0) != (r["doc_j"] % DELTA_MOD == 0)
    }
    assert inc_pairs == full_cross
    assert inc_pairs  # the fixture must exercise the path


def test_substring_spans_cover_exact_duplicates(spark, sf_dir):
    """Every member of an EXACT duplicate group (>= SPAN_L tokens) must
    be 100% covered by duplicated spans; coverage is 0 or >= SPAN_L
    (a duplicated gram covers SPAN_L positions); and the fixture must
    exercise partial coverage somewhere."""
    from groove_to_helpscout_migration_tool_spark.catalog.corpus_ops import SPAN_L

    t = load_tables(spark, sf_dir, ["documents"])
    out = catalog.QUERIES["llm_substring_dedup_spans"].fn(spark, sf_dir)
    assert out.filter(
        (F.col("n_dup_tokens") > 0) & (F.col("n_dup_tokens") < SPAN_L)
    ).count() == 0
    assert out.filter(F.col("n_dup_tokens") > F.col("n_tokens")).count() == 0
    norm = t.documents.select(
        "doc_id",
        F.array_join(TX.tokens(F.col("text")), " ").alias("nt"),
    )
    grp = norm.groupBy("nt").agg(
        F.count(F.lit(1)).alias("c"), F.collect_list("doc_id").alias("ids")
    )
    dup_ids = [
        i for r in grp.filter(F.col("c") > 1).collect() for i in r["ids"]
    ]
    if dup_ids:
        uncovered = out.filter(
            F.col("doc_id").isin(dup_ids)
            & (F.col("n_tokens") >= SPAN_L)
            & (F.col("dup_frac") < 1.0)
        ).count()
        assert uncovered == 0
    partial = out.filter(
        (F.col("n_dup_tokens") > 0) & (F.col("n_dup_tokens") < F.col("n_tokens"))
    ).count()
    assert partial > 0


def test_bigram_lm_score_matches_pure_python(spark, sf_dir):
    """Independent recount: fit the Laplace bigram LM in Python, score
    with an identical left-to-right float fold -- every mean must match
    to the rounded precision, and the low-likelihood flag must select a
    real (non-empty, minority) tail."""
    from collections import Counter

    from groove_to_helpscout_migration_tool_spark.catalog.corpus_ops import (
        LM_LOW_THRESH,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    texts = {r["doc_id"]: r["text"].lower().split() for r in t.documents.collect()}
    c12: Counter = Counter()
    c1: Counter = Counter()
    for toks in texts.values():
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    v = len(c1)
    want = {}
    for d, toks in texts.items():
        ps = [
            (c12[(a, b)] + 1) / float(c1[a] + v) for a, b in zip(toks, toks[1:])
        ]
        if not ps:
            continue
        s = 0.0
        for p in ps:  # same left-to-right order as the engines' folds
            s += p
        want[d] = (len(ps), round(s / len(ps), 6), s / len(ps) < LM_LOW_THRESH)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_transition_p"], r["low_likelihood"])
        for r in catalog.QUERIES["llm_bigram_lm_score"].fn(spark, sf_dir).collect()
    }
    assert got == want
    flagged = sum(1 for _, _, f in got.values() if f)
    assert 0 < flagged < len(got) / 2


def test_bpe_pair_counts_match_pure_python(spark, sf_dir):
    """The distributed vocab-weighted pair count must equal a direct
    Python recount of the raw token stream (the vocabulary aggregation
    is an optimization, not a semantics change)."""
    from collections import Counter

    t = load_tables(spark, sf_dir, ["documents"])
    texts = [r["text"] for r in t.documents.select("text").collect()]
    counts: Counter = Counter()
    for txt in texts:
        for w in txt.split():
            for i in range(len(w) - 1):
                counts[f"{w[i]}|{w[i+1]}"] += 1
    from groove_to_helpscout_migration_tool_spark.catalog.corpus_ops import (
        BPE_TOP_PAIRS,
    )

    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_PAIRS]
    got = [
        (r["pair"], r["n_occurrences"])
        for r in catalog.QUERIES["llm_bpe_pair_counts"].fn(spark, sf_dir).collect()
    ]
    assert got == want


def test_dsir_importance_separates_target_language(spark, sf_dir):
    """The likelihood-ratio weights must rank the target slice ('en')
    above every other language on average -- otherwise the model learned
    nothing -- and the keep flag must agree with the integer score
    comparison."""
    from groove_to_helpscout_migration_tool_spark.catalog.corpus_ops import (
        DSIR_SCALE,
    )

    df = catalog.QUERIES["llm_importance_weights_dsir"].fn(spark, sf_dir)
    means = {
        r["lang"]: r["m"]
        for r in df.groupBy("lang").agg(F.avg("importance").alias("m")).collect()
    }
    assert means["en"] > max(v for k, v in means.items() if k != "en")
    bad = df.filter(
        F.col("kept") != (F.col("score_raw") >= F.lit(DSIR_SCALE) * F.col("n_tokens"))
    ).count()
    assert bad == 0
    # weights are ratios of positive smoothed counts: scores are positive
    assert df.filter(F.col("score_raw") <= 0).count() == 0


class TestTwoPhaseTopKProperty:
    """Pure property of the salted two-phase top-k used by
    llm_rag_retrieve_sparse: per-salt partial top-k followed by a merge
    of the partials must equal the global top-k under the same
    (score DESC, id ASC) order, for any score multiset and any salt
    width -- the invariant that makes the corpus-wide window partition
    removable."""

    def test_partial_then_merge_equals_global(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        K = 3

        @settings(max_examples=300, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.integers(min_value=-5, max_value=5),  # coarse score
                    st.integers(min_value=0, max_value=200),  # doc id
                ),
                min_size=1,
                max_size=60,
                unique_by=lambda t: t[1],
            ),
            st.integers(min_value=1, max_value=8),  # salt width
        )
        def check(rows, n_salt):
            key = lambda t: (-t[0], t[1])  # score DESC, id ASC
            want = sorted(rows, key=key)[:K]
            buckets: dict[int, list] = {}
            for s, d in rows:
                buckets.setdefault(d % n_salt, []).append((s, d))
            partials = [
                x for b in buckets.values() for x in sorted(b, key=key)[:K]
            ]
            got = sorted(partials, key=key)[:K]
            assert got == want

        check()


def test_rag_two_phase_topk_equals_global_window(spark, sf_dir):
    """The salted two-phase top-k must reproduce a naive global window
    ranking over the same similarity frame, and basic shape contracts
    must hold (<= k rows per query, dense ranks from 1, cosine in
    [-1, 1])."""
    out = catalog.QUERIES["llm_rag_retrieve_sparse"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_doc"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["match_rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= RAG_TOP_K
        for r in rs:
            assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
    # rebuild the similarity frame and rank it with a plain window:
    # identical (query, rank, match) triples expected
    from groove_to_helpscout_migration_tool_spark.catalog.corpus_ops import (
        RAG_QUERY_MOD,
    )

    hv = catalog.QUERIES["llm_hashing_vectorizer"].fn(spark, sf_dir)
    nz = hv.select("doc_id", "dim", F.col("weight_raw").alias("w"))
    nn = nz.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("ss"))
    is_q = F.col("doc_id") % RAG_QUERY_MOD == 0
    q = nz.filter(is_q).select(F.col("doc_id").alias("qid"), "dim", F.col("w").alias("wq"))
    c = nz.filter(~is_q).select(F.col("doc_id").alias("did"), "dim", F.col("w").alias("wd"))
    dots = c.join(q, ["dim"]).groupBy("qid", "did").agg(
        F.sum(F.col("wq") * F.col("wd")).alias("num")
    )
    sims = (
        dots.join(nn.select(F.col("doc_id").alias("qid"), F.col("ss").alias("ssq")), ["qid"])
        .join(nn.select(F.col("doc_id").alias("did"), F.col("ss").alias("ssd")), ["did"])
        .select("qid", "did", (F.col("num") / F.sqrt(F.col("ssq") * F.col("ssd"))).alias("cos"))
    )
    wp = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("did"))
    naive = (
        sims.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= RAG_TOP_K)
        .collect()
    )
    naive_set = {(r["qid"], r["rn"], r["did"]) for r in naive}
    got_set = {(r["query_doc"], r["match_rank"], r["match_doc"]) for r in rows}
    assert got_set == naive_set
