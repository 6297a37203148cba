"""Model-prep operators: contracts beyond the value-hash oracle -- the
classifier score must recount from md5 in pure Python, the epoch plan
must follow the capped temperature formula per source, and the BPE
merge table must equal a from-scratch pure-Python BPE run over the same
corpus (the strongest possible loop certification: two engines + one
reference implementation, three independent formulations)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from pyspark.sql import functions as F

from groove_to_helpscout_migration_tool_spark import catalog
from groove_to_helpscout_migration_tool_spark.catalog.modelprep_ops import (
    BPE_ROUNDS,
    MIX_MAX_EPOCHS,
    QCLF_DIMS,
    _QCLF_BIAS,
    _QCLF_W,
)
from groove_to_helpscout_migration_tool_spark.session import load_tables


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_qclf_score_recounts_from_md5(spark, sf_dir):
    out = {
        r["doc_id"]: r
        for r in catalog.QUERIES["llm_quality_classifier_score"].fn(
            spark, sf_dir
        ).collect()
    }
    docs = load_tables(spark, sf_dir, ["documents"]).documents.collect()
    assert len(out) == len(docs)
    for d in docs[:25]:
        toks = [w for w in d["text"].split() if w]
        z = _QCLF_BIAS
        for w in toks:
            h = _h60(w)
            sgn = 1 if (h >> 6) % 2 == 0 else -1
            z += sgn * _QCLF_W[h % QCLF_DIMS]
        r = out[d["doc_id"]]
        assert r["score_milli"] == z, d["doc_id"]
        assert r["n_toks"] == len(toks)
        assert r["keep"] == (z >= 0)


def test_qclf_weights_are_md5_derived_and_nondegenerate():
    """The embedded weight vector must recompute from md5('qclf:d') and
    actually discriminate (both signs present, no all-zero model)."""
    for d, w in enumerate(_QCLF_W):
        assert w == _h60(f"qclf:{d}") % 2001 - 1000
        assert -1000 <= w <= 1000
    assert any(w > 0 for w in _QCLF_W) and any(w < 0 for w in _QCLF_W)


def test_qclf_plan_is_map_only(spark, sf_dir):
    """Classifier inference must cost one scan: no Exchange anywhere,
    scan pruned to (doc_id, text)."""
    df = catalog.QUERIES["llm_quality_classifier_score"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "doc_id" in plan and "text" in plan
    assert "n_chars" not in plan  # untouched columns must be pruned


def test_mixture_epochs_recounts_per_source(spark, sf_dir):
    docs = load_tables(spark, sf_dir, ["documents"]).documents.collect()
    dtok = {d["doc_id"]: len([w for w in d["text"].split() if w]) for d in docs}
    src_of = {d["doc_id"]: d["source"] for d in docs}
    stok = Counter()
    for did, s in src_of.items():
        stok[s] += dtok[did]
    sw = {s: math.isqrt(c) for s, c in stok.items()}
    n_total, w_total = sum(stok.values()), sum(sw.values())
    plan = {}
    for s in stok:
        target = (n_total * sw[s]) // (2 * w_total)
        full = min(MIX_MAX_EPOCHS, target // stok[s])
        part = 0 if target // stok[s] >= MIX_MAX_EPOCHS else (
            1000 * (target % stok[s])
        ) // stok[s]
        plan[s] = (full, part)
    out = catalog.QUERIES["llm_mixture_epochs"].fn(spark, sf_dir).collect()
    per_doc = Counter()
    for r in out:
        per_doc[r["doc_id"]] += 1
        assert 1 <= r["epoch"] <= MIX_MAX_EPOCHS + 1
        assert r["source"] == src_of[r["doc_id"]]
    for did, s in src_of.items():
        full, part = plan[s]
        bucket = _h60(f"{did}:mixep") % 1000
        expect = full + (1 if bucket < part else 0)
        assert per_doc.get(did, 0) == expect, (did, s, full, part, bucket)
    # the plan must actually repeat something and partial-keep something
    assert any(f >= 2 for f, _ in plan.values()) or any(
        p > 0 for _, p in plan.values()
    )


def _python_bpe(words: Counter, rounds: int):
    """Reference BPE: left-to-right non-overlapping merges, argmax by
    (count DESC, pair ASC)."""
    state = {w: tuple(w) for w in words}
    merges = []
    for _ in range(rounds):
        pc = Counter()
        for w, cnt in words.items():
            syms = state[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += cnt
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (la, ra), c = best
        merges.append((la, ra, c))
        for w in state:
            syms = state[w]
            out, carry = [], None
            for s in syms:
                if carry == la and s == ra:
                    out.append(la + ra)
                    carry = None
                else:
                    if carry is not None:
                        out.append(carry)
                    carry = s
            if carry is not None:
                out.append(carry)
            state[w] = tuple(out)
    return merges, state


def test_bpe_merge_table_matches_pure_python_reference(spark, sf_dir):
    docs = load_tables(spark, sf_dir, ["documents"]).documents.collect()
    words = Counter()
    for d in docs:
        for w in d["text"].split():
            if w:
                words[w] += 1
    expect, _ = _python_bpe(words, BPE_ROUNDS)
    got = (
        catalog.QUERIES["llm_bpe_train_merges"].fn(spark, sf_dir)
        .orderBy("rank")
        .collect()
    )
    assert len(got) == len(expect) == BPE_ROUNDS
    for r, (la, ra, c) in zip(got, expect):
        assert (r["left_sym"], r["right_sym"], r["pair_count"]) == (la, ra, c)


def test_bpe_retrains_after_artifacts_are_released(spark, sf_dir):
    """BPE keeps no result cache: once an artifact scope has released
    the word tables, a second call in the same session runs the merge
    loop again -- at least one argmax job per round -- and trains the
    same merges."""
    from groove_to_helpscout_migration_tool_spark.operators.cache import artifact_scope

    def merges():
        fn = catalog.QUERIES["llm_bpe_train_merges"].fn
        return sorted(tuple(r) for r in fn(spark, sf_dir).collect())

    with artifact_scope(spark, "bpe_train"):
        first = merges()
    with artifact_scope(spark, "bpe_retrain"):
        second = merges()
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup("bpe_retrain")) >= BPE_ROUNDS
    assert second == first and len(first) == BPE_ROUNDS


def test_bpe_fold_handles_overlapping_runs(spark):
    """'aaaa' merging (a,a) must yield [aa, aa], never [aa, aa, aa] --
    the left-to-right non-overlap rule the fold encodes."""
    df = spark.createDataFrame([("aaaa",), ("aaa",)], "word string")
    merged = df.select(
        F.expr(
            "aggregate(regexp_extract_all(word, '.', 0),"
            " named_struct('o', CAST(array() AS ARRAY<STRING>),"
            "              'c', CAST(NULL AS STRING)),"
            " (acc, s) -> IF(acc.c = 'a' AND s = 'a',"
            "   named_struct('o', concat(acc.o, array('aa')),"
            "                 'c', CAST(NULL AS STRING)),"
            "   named_struct('o', IF(acc.c IS NULL, acc.o,"
            "                        concat(acc.o, array(acc.c))),"
            "                 'c', s)),"
            " acc -> IF(acc.c IS NULL, acc.o, concat(acc.o, array(acc.c))))"
        ).alias("m")
    ).collect()
    assert merged[0]["m"] == ["aa", "aa"]
    assert merged[1]["m"] == ["aa", "a"]


def test_pca_power_matches_integer_recount_and_beats_start(spark, sf_dir):
    """The op must equal an exact pure-Python big-int recount of the
    4-round iterate (three formulations with Duck's HUGEINT replay), and
    the iterate must capture most of numpy's true top eigenvalue --
    far more than the md5 start vector does."""
    import math

    import numpy as np

    from groove_to_helpscout_migration_tool_spark.catalog.modelprep_ops import (
        _PCA_V0,
        PCA_DIMS,
        PCA_Q,
        PCA_ROUNDS,
    )

    emb = load_tables(spark, sf_dir, ["embeddings"]).embeddings.orderBy("vec_id")
    X = np.stack([np.array(r["embedding"], dtype=np.float64) for r in emb.collect()])
    # exact integer recount (python bigints -- no overflow, no floats)
    def _round_away(v: float) -> int:
        # Spark round() and DuckDB round() both round halves AWAY from
        # zero; Python round() is banker's -- recount with the engines' rule
        return (1 if v >= 0 else -1) * math.floor(abs(v) * PCA_Q + 0.5)

    Xq = [[_round_away(float(x)) for x in row] for row in X]
    n = len(Xq)
    S = [sum(row[j] for row in Xq) for j in range(PCA_DIMS)]
    CX = [[n * row[j] - S[j] for j in range(PCA_DIMS)] for row in Xq]
    v = list(_PCA_V0)
    for _ in range(PCA_ROUNDS):
        ci = [sum(cx[j] * v[j] for j in range(PCA_DIMS)) for cx in CX]
        s = [sum(ci[i] * CX[i][j] for i in range(n)) for j in range(PCA_DIMS)]
        g = max(abs(x) for x in s)
        v = [(1 if x >= 0 else -1) * ((1000 * abs(x)) // g) for x in s]
    out = {
        r["dim"]: r["loading_milli"]
        for r in catalog.QUERIES["llm_embedding_pca_power"].fn(spark, sf_dir).collect()
    }
    assert out == {j: v[j] for j in range(PCA_DIMS)}
    # quality floor: Rayleigh quotient vs numpy's true top eigenvalue
    Xc = X - X.mean(0)
    C = Xc.T @ Xc
    lam1 = np.linalg.eigvalsh(C)[-1]

    def rayleigh(vec):
        u = np.array(vec, dtype=np.float64)
        u = u / np.linalg.norm(u)
        return float(u @ C @ u)

    assert rayleigh(v) >= 0.75 * lam1  # measured 0.83-0.90 across SFs
    assert rayleigh(v) > rayleigh(_PCA_V0) * 1.5  # start vector is far off


def test_bpe_tokenize_apply_matches_python_reference(spark, sf_dir):
    """Per-doc subword counts must equal tokenizing every document with
    the reference BPE's final word states."""
    docs = load_tables(spark, sf_dir, ["documents"]).documents.collect()
    words = Counter()
    doc_tokens = {}
    for d in docs:
        toks = [w for w in d["text"].split() if w]
        doc_tokens[d["doc_id"]] = toks
        for w in toks:
            words[w] += 1
    _, state = _python_bpe(words, BPE_ROUNDS)
    out = {
        r["doc_id"]: r
        for r in catalog.QUERIES["llm_bpe_tokenize_apply"].fn(spark, sf_dir).collect()
    }
    expect_docs = {d: t for d, t in doc_tokens.items() if t}
    assert set(out) == set(expect_docs)
    for did, toks in list(expect_docs.items())[:50]:
        assert out[did]["n_words"] == len(toks)
        assert out[did]["n_bpe_tokens"] == sum(len(state[w]) for w in toks)
    # merging must actually compress: strictly fewer subwords than chars
    total_sub = sum(r["n_bpe_tokens"] for r in out.values())
    total_chars = sum(len(w) for t in expect_docs.values() for w in t)
    assert total_sub < total_chars


def test_bpe_oracle_noop_rounds_on_pair_exhausted_corpus(spark, tmp_path):
    """A corpus whose pairs run out before BPE_ROUNDS must agree across
    engines: the Spark loop breaks early, and the oracle's LEFT JOIN
    no-op rounds must carry the word table through instead of emptying
    it (the pre-fix cross join zeroed w2..w6 and the apply oracle)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pa.table(
        {
            "doc_id": [1, 2],
            "text": ["ab ab cd", "ab"],
            "lang": ["en", "en"],
            "source": ["s0", "s0"],
            "n_chars": [8, 2],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    for name in ("llm_bpe_train_merges", "llm_bpe_tokenize_apply"):
        spec = catalog.QUERIES[name]
        srows = sorted(tuple(r) for r in spec.fn(spark, str(tmp_path)).collect())
        orows = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
        assert srows == orows, (name, srows, orows)
    # and the early break really happened: fewer merges than rounds
    got = catalog.QUERIES["llm_bpe_train_merges"].fn(spark, str(tmp_path))
    assert 0 < got.count() < BPE_ROUNDS


def test_pca_oracle_empty_corpus_gate(tmp_path):
    """The PCA oracle must emit ZERO rows on an empty embeddings table
    (matching the Spark n == 0 guard) -- ungated, its no-GROUP-BY
    aggregate CTEs still produce one all-NULL vector row."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(schema.empty_table(), str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    rows = con.execute(
        catalog.QUERIES["llm_embedding_pca_power"].oracle
    ).fetchall()
    assert rows == []
