"""Catalog-level smoke + oracle equivalence at sf0.001 (the full oracle
sweep at sf0.01 is tools/minidriver.py; this keeps pytest fast)."""

from __future__ import annotations

import duckdb
import pytest

from groove_to_helpscout_migration_tool_spark import catalog
from groove_to_helpscout_migration_tool_spark.operators.cache import artifact_scope
from groove_to_helpscout_migration_tool_spark.session import TABLES

SAMPLE = [
    "q01_pricing_summary",
    "ref_p4_email_split",
    "ref_j5_dedup_antijoin",
    "llm_doc_fingerprint",
    "llm_ann_topk_cosine",
    "ref_p1_customer_mapping",
    "ref_t3_idempotent_rerun",
    "w04_trailing_spend_range_frame",
    "t02_multires_rollup",
    "llm_corpus_curation",
    "llm_neardup_ngram_jaccard",
    "llm_dedup_clusters",
    "llm_ann_ivf_topk",
    "llm_multimodal_decode",
    "llm_ann_lsh_topk",
    "llm_ann_ivf_kmeans_topk",
    "llm_ann_quantized_topk",
    "llm_ann_ivf_hybrid_topk",
    "llm_ann_incremental_ivf",
    "llm_ann_incremental_hybrid",
    "llm_hard_negatives_ivf",
    "llm_cluster_kmeans_assign",
    "llm_semantic_dedup_clusters",
    "ref_a2_error_grouping",
    "ref_k4_error_csv_export",
    "ref_pipeline_sync_customers",
    "ref_pipeline_sync_tickets",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def test_every_query_has_unique_name():
    assert len(catalog.QUERIES) == len(set(catalog.QUERIES))


def test_every_query_is_registered_on_its_own_function():
    """A decorator that lands on a helper serves the helper's frame under
    the query's name; naming each query function after its query catches
    that without running it."""
    misplaced = {
        name: spec.fn.__name__
        for name, spec in catalog.QUERIES.items()
        if spec.fn.__name__ != name
    }
    assert misplaced == {}


def test_certification_debt_is_retirable_this_round():
    """The bound tools/certage.py promises: every query that NEEDS an
    official row this round (never checked, red, or green older than
    MAX_AGE rounds) must sit inside the sweep's front-BUDGET positions,
    i.e. the rotation in catalog._apply_sweep_order can actually retire
    the debt. Round 7 accumulated 38 queries at age >= 3 because
    nothing asserted this; this test makes that regression loud."""
    import importlib

    certage = importlib.import_module("tools.certage")
    report = certage.compute()
    assert report["overdue_beyond_budget"] == [], (
        f"{report['n_overdue']} overdue; unreachable this round: "
        f"{report['overdue_beyond_budget']}"
    )


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oras = entry_mod.oracle_sql()
    assert set(oras) <= set(qs)
    df = entry_mod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_equivalence_smoke(spark, sf_dir, duck, name):
    spec = catalog.QUERIES[name]
    with artifact_scope(spark, name):
        sdf = spec.fn(spark, sf_dir)
        srows = {tuple(str(v) for v in r) for r in sdf.collect()}
    # the scope alone leaves the CacheManager empty
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    res = duck.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    # align oracle column order to spark's
    idx = [ocols.index(c) for c in sdf.columns]
    orows = {tuple(str(r[i]) for i in idx) for r in res.fetchall()}
    assert len(srows) == len(orows)
    # string equality is stricter than the driver's hash; allow float fmt slack
    if srows != orows:
        only_s = list(srows - orows)[:3]
        only_o = list(orows - srows)[:3]
        assert not only_s and not only_o, f"spark-only={only_s} duck-only={only_o}"


class TestAnnRecall:
    """The approximate ANN paths must actually find most of the true
    neighbors -- recall against the brute-force baseline, deterministic
    given the fixed corpus."""

    def _recall(self, approx, exact):
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        return len(a & e) / len(e)

    def test_lsh_and_ivf_recall_floor(self, spark, sf_dir):
        exact = catalog.QUERIES["llm_ann_topk_cosine"].fn(spark, sf_dir)
        lsh = catalog.QUERIES["llm_ann_lsh_topk"].fn(spark, sf_dir)
        ivf = catalog.QUERIES["llm_ann_ivf_topk"].fn(spark, sf_dir)
        r_lsh, r_ivf = self._recall(lsh, exact), self._recall(ivf, exact)
        # measured on the fixed corpus: LSH margin-ordered multiprobe
        # ~0.82 at sf0.01, IVF(nprobe=3, per-cluster centroids) ~0.86;
        # floors leave headroom for other corpora
        assert r_lsh >= 0.7, f"LSH recall@5 degraded: {r_lsh}"
        assert r_ivf >= 0.7, f"IVF recall@5 degraded: {r_ivf}"


class TestApproxBounds:
    """Falsifiable epsilon-bounds for the sketch queries whose answers
    have no exact cross-engine oracle (VERDICT round 1, item 6)."""

    SF = "/root/testdata/sf0.001"

    def test_approx_percentile_within_eps_of_exact(self, spark):
        from groove_to_helpscout_migration_tool_spark import catalog

        exact = {
            r["priority"]: (r["p50"], r["p95"])
            for r in catalog.QUERIES["p01_percentiles_exact"].fn(spark, self.SF).collect()
        }
        # the benched entry is sketch-only (r5): structural invariants only
        sketch = {
            r["priority"]: r
            for r in catalog.QUERIES["p02_percentiles_approx"].fn(spark, self.SF).collect()
        }
        assert exact.keys() == sketch.keys()
        assert all(r["sketch_ok"] is True for r in sketch.values()), sketch
        # the epsilon check lives in the _check twin: in-plan exact twin
        # must equal p01's exact values, and the <=5% relative bound holds
        approx = {
            r["priority"]: r
            for r in catalog.QUERIES["p02_percentiles_approx_check"].fn(spark, self.SF).collect()
        }
        assert exact.keys() == approx.keys()
        for prio, (p50, p95) in exact.items():
            row = approx[prio]
            assert row["p50_exact"] == p50 and row["p95_exact"] == p95, (prio, row)
            assert row["within_bounds"] is True, (prio, row)
            assert row["err_over_bound"] == 0, (prio, row)

    def test_approx_count_distinct_within_rsd_of_exact(self, spark):
        from groove_to_helpscout_migration_tool_spark import catalog

        exact = {
            r["event_type"]: r["n_users"]
            for r in catalog.QUERIES["q_distinct_users_exact"].fn(spark, self.SF).collect()
        }
        sketch = {
            r["event_type"]: r
            for r in catalog.QUERIES["q_distinct_users_approx"].fn(spark, self.SF).collect()
        }
        assert exact.keys() == sketch.keys()
        assert all(r["sketch_ok"] is True for r in sketch.values()), sketch
        approx = {
            r["event_type"]: r
            for r in catalog.QUERIES["q_distinct_users_approx_check"].fn(spark, self.SF).collect()
        }
        assert exact.keys() == approx.keys()
        for et, n in exact.items():
            row = approx[et]
            assert row["n_users_exact"] == n, (et, n, row)
            assert row["within_bounds"] is True, (et, row)
            assert row["err_over_bound"] == 0, (et, row)


class TestTrainingAssembly:
    """Invariants of the shuffle/sample/pack training-assembly operators
    that the value-hash oracle can't express: partition independence,
    coverage, and budget bounds."""

    def test_shuffle_is_partition_invariant_permutation(self, spark, sf_dir):
        out = catalog.QUERIES["llm_train_shuffle"].fn(spark, sf_dir)
        rows = out.collect()
        n_docs = (
            catalog.QUERIES["llm_text_stats"].fn(spark, sf_dir).count()
        )
        assert len(rows) == n_docs  # a permutation: every doc placed once
        assert len({r["doc_id"] for r in rows}) == n_docs
        by_shard: dict[int, list[int]] = {}
        for r in rows:
            assert 0 <= r["shard_id"] < 64
            by_shard.setdefault(r["shard_id"], []).append(r["shard_pos"])
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(1, len(poss) + 1))

    def test_stratified_sample_is_deterministic_and_downsamples(self, spark, sf_dir):
        from groove_to_helpscout_migration_tool_spark.session import load_tables

        out = catalog.QUERIES["llm_sample_stratified"].fn(spark, sf_dir)
        kept1 = {r["doc_id"] for r in out.collect()}
        kept2 = {r["doc_id"] for r in out.collect()}  # re-run: identical
        assert kept1 == kept2
        t = load_tables(spark, sf_dir, ["documents"])
        langs = {r["doc_id"]: r["lang"] for r in t.documents.select("doc_id", "lang").collect()}
        n_en_all = sum(1 for l in langs.values() if l == "en")
        n_en_kept = sum(1 for d in kept1 if langs[d] == "en")
        # en keep rate 30%: binomial bounds, wide enough for sf0.001
        assert n_en_kept < n_en_all
        # non-downsampled strata survive whole
        for d, l in langs.items():
            if l not in ("en", "zh"):
                assert d in kept1

    def test_pack_sequences_respects_budget_layout(self, spark, sf_dir):
        rows = catalog.QUERIES["llm_pack_sequences"].fn(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r["seq_offset"] < 512
        # within a shard the stream is gapless: offsets reconstruct the
        # running token total exactly
        by_shard: dict[int, list] = {}
        for r in rows:
            by_shard.setdefault(r["shard_id"], []).append(r)
        for shard, rs in by_shard.items():
            rs = sorted(rs, key=lambda r: r["seq_id"] * 512 + r["seq_offset"])
            total = 0
            for r in rs:
                assert r["seq_id"] * 512 + r["seq_offset"] == total
                total += r["n_tokens"]


def test_no_complex_output_columns_anywhere(spark, sf_dir):
    """Catalog-wide output contract: the OFFICIAL driver canonicalizes
    results in pandas, where list/dict/Row cells are unhashable -- a
    query whose schema contains ArrayType/MapType/StructType errors in
    the driver even when its values are exactly right (round-6
    llm_embedding_jl_project). Sweep every registered query's output
    schema; any complex-typed column is a failure here first."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from minidriver import complex_output_cols

    offenders = {}
    for name, spec in catalog.QUERIES.items():
        schema = spec.fn(spark, sf_dir).schema
        bad = complex_output_cols(schema)
        if bad:
            offenders[name] = bad
    assert offenders == {}, f"complex-typed output columns: {offenders}"


def test_minidriver_rejects_complex_output_schema():
    """The mirror must flag an array column the same way the official
    driver would die on it (never greener than the driver)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from pyspark.sql import types as T

    from minidriver import complex_output_cols

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("proj", T.ArrayType(T.DoubleType())),
            T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
            T.StructField("pair", T.StructType([T.StructField("a", T.LongType())])),
            T.StructField("ok", T.StringType()),
        ]
    )
    assert complex_output_cols(schema) == ["proj", "meta", "pair"]


class TestBenchContract:
    """The external driver keeps only a ~2KB tail of bench stdout; the
    final line must always parse from within it (r2/r3 benches went
    unrecorded when the line outgrew the buffer)."""

    def test_headline_names_exist_in_catalog(self):
        import bench

        missing = [n for n in bench.HEADLINE if n not in catalog.QUERIES]
        assert missing == []

    def test_manifest_changelog_accounts_for_membership(self):
        """Replaying the manifest changelog (adds minus drops, in order)
        must reproduce the headline list exactly: editing membership
        without a changelog entry fails here, so the set can never
        rotate silently again (the r6 VERDICT hygiene flag)."""
        import bench

        replay: set[str] = set()
        for entry in bench.MANIFEST["changelog"]:
            names = set(entry["names"])
            assert entry["action"] in ("add", "drop")
            assert entry.get("reason"), f"changelog entry without reason: {entry}"
            if entry["action"] == "add":
                assert not (names & replay), "re-adding without a drop"
                replay |= names
            else:
                assert names <= replay, "dropping names never added"
                replay -= names
        assert replay == set(bench.MANIFEST["headline"])
        # the headline list itself must be duplicate-free
        assert len(bench.HEADLINE) == len(set(bench.HEADLINE))

    def test_set_delta_detects_membership_change(self):
        """_set_delta must name the adds/drops vs the newest recorded
        BENCH_r*.json so a moved total is attributable to the set."""
        import bench

        delta = bench._set_delta(set(bench.HEADLINE))
        assert delta["vs"] is not None
        assert delta["common"] >= 1
        # a synthetic membership change is reported, not swallowed
        mutated = (set(bench.HEADLINE) - {bench.HEADLINE[0]}) | {"made_up_query"}
        d2 = bench._set_delta(mutated)
        assert "made_up_query" in d2["added"]
        # a removed member must be REPORTED as dropped (guard on it being
        # present in the recorded round, else the drop is undetectable)
        import glob
        import json as _json
        import os
        import re

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        newest = max(
            glob.glob(os.path.join(repo, "BENCH_r*.json")),
            key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
        )
        with open(newest) as f:
            rec = _json.load(f)
        prev = set((rec.get("parsed") or rec).get("queries", {}))
        if bench.HEADLINE[0] in prev:
            assert bench.HEADLINE[0] in d2["dropped"]

    def test_compact_line_fits_tail_buffer(self):
        import json

        import bench

        # realistic worst case: every headline query at a 1-digit-seconds
        # timing (the actual bench tops out ~2s/query) -- the line must
        # carry EVERY query at FULL 2-decimal precision (an integer- or
        # 1dp-rounded line is weak round-over-round evidence; the
        # precision ladder exists only for pathological timings)
        timings = {n: 8.77 for n in bench.HEADLINE}
        detail, line = bench.build_output(
            timings, dict(timings), dict(timings), 0.1, "0123abc-dirty"
        )
        assert len(line) < 1900
        parsed = json.loads(line)
        assert parsed["metric"] == "headline_queries_total"
        assert set(parsed["queries"]) == set(bench.HEADLINE)
        assert all(v == 8.77 for v in parsed["queries"].values())
        assert "precision" not in parsed
        assert json.loads(json.dumps(detail))["spread_pct"] == dict(timings)
        # 2-digit timings push the 2dp line over the guard: the 1dp rung
        # engages and says so, so the rounded values are never read as 2dp
        timings = {n: 18.77 for n in bench.HEADLINE}
        _, line = bench.build_output(
            timings, dict(timings), dict(timings), 0.1, "0123abc-dirty"
        )
        assert len(line) < 1900
        parsed = json.loads(line)
        assert parsed["precision"] == 1
        assert set(parsed["queries"]) == set(bench.HEADLINE)
        assert all(v == 18.8 for v in parsed["queries"].values())
        # pathological case (4-digit timings): the line must STILL parse
        # under the buffer; any dropped entries must be counted, and the
        # detail dict keeps the full record
        timings = {n: 9999.99 for n in bench.HEADLINE}
        detail, line = bench.build_output(
            timings, dict(timings), dict(timings), 0.1, "0123abc-dirty"
        )
        assert len(line) < 1900
        parsed = json.loads(line)
        assert parsed["precision"] == 0
        omitted = parsed.get("queries_omitted", 0)
        assert len(parsed["queries"]) + omitted == len(bench.HEADLINE)
        assert set(detail["queries"]) == set(bench.HEADLINE)

    def test_timed_frame_prunes_no_scan_the_query_reads(self, spark, sf_dir):
        """The frame bench.py collects must read what the query's own
        plan reads: a ``count()`` prunes 7 headline queries' scans down
        to no column at all (``ReadSchema: struct<>``), so their regex,
        hashing and classifier work never runs. Plans only, no action.
        A query whose own plan has a column-less scan (a plain row
        count of a table) may keep it."""
        import bench

        def columnless(df) -> int:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            return plan.count("ReadSchema: struct<>")

        pruned = {}
        for name in bench.HEADLINE:
            with artifact_scope(spark, name):
                df = catalog.QUERIES[name].fn(spark, sf_dir)
                own, timed = columnless(df), columnless(bench.fold_frame(df))
            if timed > own:
                pruned[name] = (own, timed)
        assert pruned == {}

    def test_timed_frame_keeps_the_query_operators(self, spark, sf_dir):
        """Every exchange, join, aggregate, Window, Generate and
        Python-evaluation node of the query's own physical plan appears
        at least as often under the fold bench.py collects. ``count()``
        passes the scan test above yet drops whole operators (a Window
        whose output nobody reads, a join that only adds columns, a
        ``collect_list``). The fold's own aggregates and exchange are
        left out, and a global Sort under the fold may go with its
        range exchange. Plans only, no action."""
        import bench

        lost = {}
        for name in bench.HEADLINE:
            with artifact_scope(spark, name):
                df = catalog.QUERIES[name].fn(spark, sf_dir)
                own = _plan_operators(df)
                timed = _plan_operators(bench.fold_frame(df), under_fold=True)
            dropped_sorts = own.pop("global Sort", 0) - timed.pop("global Sort", 0)
            timed["Exchange rangepartitioning"] += max(dropped_sorts, 0)
            missing = {k: (n, timed[k]) for k, n in own.items() if timed[k] < n}
            if missing:
                lost[name] = missing
        assert lost == {}


def _plan_operators(df, under_fold: bool = False):
    """Counter of the exchange, join, aggregate, Window, Generate and
    Python nodes (plus global Sorts) in ``df``'s physical plan, before
    any action; exchanges are keyed by their partitioning. With
    ``under_fold``, ``df`` is a one-row aggregate over a query and its
    own nodes -- every line down to its partial aggregate, the first in
    the tree's pre-order -- are skipped."""
    import re
    from collections import Counter

    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    lines = plan.splitlines()
    if under_fold:
        lines = lines[next(i for i, ln in enumerate(lines) if "functions=[partial_" in ln) + 1:]
    ops = Counter()
    for line in lines:
        node = re.sub(r"^[\s:|+-]*(\*\(\d+\)\s*)?", "", line)
        name = re.match(r"\w*", node).group()
        if name == "Exchange":
            ops["Exchange " + re.match(r"Exchange (\w+)", node).group(1)] += 1
        elif name == "Sort" and re.search(r"\], true, \d+$", node):
            ops["global Sort"] += 1
        elif re.fullmatch(r"\w*(Join|CartesianProduct|Aggregate|EvalPython|InPandas|InArrow)"
                          r"|BroadcastExchange|Window|Generate", name):
            ops[name] += 1
    return ops


class TestTrainingAssemblyPartitionInvariance:
    """The core determinism claim of the training-assembly family: every
    shuffle/sample/pack decision is a pure md5 function of doc_id, so
    results are IDENTICAL under any input partitioning -- the property
    rand()-based formulations lose on retry/re-partition."""

    def _rows(self, df):
        return {tuple(r) for r in df.collect()}

    def test_same_results_under_repartitioning(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from groove_to_helpscout_migration_tool_spark.catalog import llm_ops
        from groove_to_helpscout_migration_tool_spark.session import load_tables

        t = load_tables(spark, sf_dir, ["documents"])
        variants = [
            t.documents,
            t.documents.repartition(7),
            t.documents.repartition(3, F.col("lang")),
        ]

        def shuffle_of(docs):
            keyed = docs.select(
                "doc_id", llm_ops._doc_key("shuf:ep1").alias("skey")
            ).withColumn(
                "shard_id", (F.col("skey") % llm_ops.N_SHARDS).cast("bigint")
            )
            from pyspark.sql import Window as W

            w = W.partitionBy("shard_id").orderBy("skey", "doc_id")
            return keyed.select(
                "doc_id", "shard_id", F.row_number().over(w).alias("pos")
            )

        base = self._rows(shuffle_of(variants[0]))
        for v in variants[1:]:
            assert self._rows(shuffle_of(v)) == base
