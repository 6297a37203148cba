"""The catalog workload: 8 registered queries on a generated corpus.

``generate`` writes sf-shaped parquet tables (the schemas of the catalog's
test tables) as a pure function of the seed. Each query is timed from its
build (``spec.fn``) through a full-output action: an ``xxhash64`` fold over
every output column, with floating-point columns rounded to ten
significant digits first so that the fold compares across engines. The
same fold over the query's DuckDB oracle, loaded into Spark, is the
expected value, so every timed output is also checked.

Between queries the build artifacts, the Spark cache and the BPE memo are
dropped, so no query reads another's warm state.
"""

from __future__ import annotations

import functools
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from groove_to_helpscout_migration_tool_spark import catalog
from groove_to_helpscout_migration_tool_spark.catalog import modelprep_ops
from groove_to_helpscout_migration_tool_spark.operators import cache

GROUPS = {
    "jvm": ["q01_pricing_summary", "q05_region_revenue", "ref_j5_dedup_antijoin",
            "llm_pii_redact"],
    "python": ["llm_ann_topk_cosine", "llm_ann_ivf_topk", "llm_neardup_minhash_lsh_capped",
               "llm_bpe_train_merges"],
}
QUERIES = GROUPS["jvm"] + GROUPS["python"]
SCALE = 0.01  # rows relative to the sf1 test-table shapes (sf0.1 = 0.1)
FOLD_MOD = 1_000_000_007

WORDS = ("a the row key agg scan slow fast table value part hash merge batch line sort "
         "window spark order data column join small customer query big stream filter "
         "group vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int), n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.01:          # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and rng.random() < 0.02:          # near duplicate: a few words changed
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
            continue
        words = list(rng.choice(WORDS, int(rng.integers(20, 80))))
        u = rng.random()
        if u < 0.05:
            words.insert(int(rng.integers(0, len(words))), f"user{i}@mail{i % 9}.com")
        elif u < 0.08:
            words.insert(int(rng.integers(0, len(words))), f"555-{i % 1000:03d}-{i % 10000:04d}")
        elif u < 0.10:
            words.insert(int(rng.integers(0, len(words))), f"https://site{i % 50}.org/p{i}")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()), "text": texts,
        "lang": [LANGS[int(j)] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir: str, seed: int, scale: float = SCALE) -> str:
    """Write the tables under ``out_dir``; -> the directory."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(20_000 * scale), int(20_000 * scale)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[int(i)] for i in rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[int(i)] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": [PRIORITIES[int(i)] for i in rng.integers(0, 5, n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * scale), n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[int(i)] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("O", "F")[int(i)] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
                rng.integers(1, int(2.6e12 / n_events), n_events)).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(150, n_events // 66), n_events), pa.int64()),
            "event_type": [EVENT_TYPES[int(i)] for i in rng.integers(0, 5, n_events)],
            "value": _money(rng, 0.0, 20.0, n_events),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)]}),
        "documents": _documents(rng, n_docs),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(rng.standard_normal((n_vecs, 64)).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _normalized(df, types: dict):
    """Every column as a string; floating point to ten significant digits."""
    cols = []
    for name, dtype in types.items():
        c = F.col(name)
        if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
            c = F.format_string("%.9e", c.cast("double"))
        else:
            c = c.cast(dtype)
        cols.append(c.cast("string").alias(name))
    return df.select(*cols)


def fold(df, types: dict | None = None):
    """The timed full-output action -> (rows, fold) of the frame."""
    types = types or {f.name: f.dataType for f in df.schema.fields}
    norm = _normalized(df, types)
    h = F.xxhash64(F.struct(*[F.col(c) for c in sorted(types)]))
    return norm.agg(F.count(F.lit(1)).alias("n"), F.sum(F.pmod(h, F.lit(FOLD_MOD))).alias("s"))


def reset(spark) -> None:
    cache.unpersist_artifacts()
    spark.catalog.clearCache()
    modelprep_ops.clear_bpe_memo()


def run_round(spark, sf_dir: str, tracer, plans: dict | None = None) -> dict:
    """Every query once, build + fold timed.

    -> {name: {wall_s, fold, jobs, types, error}}; ``types`` maps each
    output column to its Spark type.

    ``plans`` (when given) receives each fold's physical plan text.
    """
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in QUERIES:
        rec = {"wall_s": 0.0, "fold": None, "jobs": 0, "types": None, "error": None}
        with tracer.span(f"catalog.{name}") as span:
            try:
                out_df = catalog.QUERIES[name].fn(spark, sf_dir)
                rec["types"] = {f.name: f.dataType for f in out_df.schema.fields}
                df = fold(out_df)
                if plans is not None:
                    plans[name] = df._jdf.queryExecution().executedPlan().toString()
                row = df.collect()[0]
                rec["fold"] = (int(row["n"]), int(row["s"] or 0))
            except Exception as exc:  # a failing query is a counted failure, not a crash
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
        rec["wall_s"] = span.wall
        rec["jobs"] = len(tracker.getJobIdsForGroup(span.id))
        reset(spark)
        out[name] = rec
    return out


def oracle_folds(spark, sf_dir: str, types: dict) -> dict:
    """The same fold over each query's DuckDB oracle output, each column
    read as the Spark output's type (``types``: name -> column -> type)."""
    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "orders", "lineitem",
                  "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out, folds = {}, []
        for name, cols in types.items():
            table = con.execute(catalog.QUERIES[name].oracle).arrow()
            if table.num_rows == 0:
                out[name] = (0, 0)
            elif sorted(table.column_names) != sorted(cols):
                out[name] = ("columns", tuple(sorted(table.column_names)))
            else:
                folds.append(fold(spark.createDataFrame(table), cols)
                             .withColumn("name", F.lit(name)))
        # one Spark job for all the folds
        if folds:
            for row in functools.reduce(lambda a, b: a.unionByName(b), folds).collect():
                out[row["name"]] = (int(row["n"]), int(row["s"] or 0))
        return out
    finally:
        con.close()


def column_less_scans(plans: dict) -> list[str]:
    """Queries whose timed plan reads a parquet scan with no columns."""
    return [name for name, plan in plans.items() if "ReadSchema: struct<>" in plan]
