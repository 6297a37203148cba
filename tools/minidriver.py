"""Local replica of the correctness driver: run every catalog query on
Spark AND its DuckDB oracle, compare row count / column names / value
hash (order-insensitive, columns sorted by name). Iterate here before
the real driver runs at sf0.01.

Usage: python tools/minidriver.py [sf_dir] [query_name ...]
Env: MINIDRIVER_JSON=<path> additionally writes a CORRECTNESS-style
JSON record {name: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}} covering every query it ran.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from groove_to_helpscout_migration_tool_spark import catalog, get_session
from groove_to_helpscout_migration_tool_spark.session import TABLES


def complex_output_cols(schema) -> list[str]:
    """Column names whose type the official driver's pandas canonicalizer
    cannot hash/sort (ArrayType/MapType/StructType). Any such column is a
    contract violation even if the values are correct -- the round-6
    llm_embedding_jl_project red row was exactly this shape."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


# ---------------------------------------------------------------------------
# Bounded-output certification forms for the full-window sorts
# (VERDICT r12 task 4). At sf10 these queries emit the whole 15M-row
# orders window; the engines compute them in seconds but this mirror's
# canonicalizer (collect + python sort/sha256 of 15M rows PER ENGINE)
# costs ~10min/query -- which is why q10/w01-w03 kept riding stale sf10
# certs. With MINIDRIVER_DIGEST=1 the listed queries are certified
# through an order-insensitive integer digest computed INSIDE each
# engine: rows bucket by (key % 4096) and each output column
# contributes per bucket its count, its coalesced sum, and a
# weight-mixed sum (value * (weight % 99991 + 1)) that binds values to
# their rows -- a cross-row value swap inside a bucket flips the mixed
# sum. Money columns go through floor(x*100 + 0.5) cents first (the
# repo's exact-cents discipline; both engines floor the SAME rounded
# double, so the digest is integer-exact). All sums fit BIGINT with
# >100x headroom at sf10 (max |value*weight| ~ 2e14/row, <= 4k rows per
# bucket). The official sf0.01 driver path never digests -- full
# value-hash certification there is cheap and stays the gate.
SCALE_DIGEST: dict[str, dict] = {
    "w01_order_rank_lag": {
        "key": "custkey",
        "weight": "orderkey",
        "int_cols": [
            "custkey", "orderkey", "rn", "rnk",
            "prev_orderkey", "next_orderkey",
        ],
    },
    "w02_running_customer_spend": {
        "key": "custkey",
        "weight": "orderkey",
        "int_cols": ["custkey", "orderkey"],
        "money_cols": ["running_spend"],
    },
    "w03_top3_orders_per_customer": {
        "key": "custkey",
        "weight": "orderkey",
        "int_cols": ["custkey", "orderkey", "rn"],
    },
    # The other large-output rotation members (r13): digesting these
    # keeps EVERY future sweep-front sf10 refresh in the
    # seconds-per-query regime no matter which cohort rotates in (the
    # r13 front paid 210s for ref_s5's 15M-row canonicalization and
    # 153s for hashing_vectorizer's 9.5M rows). String columns digest
    # as length + first-codepoint mixes plus an exact per-bucket
    # distinct count; fixed6 columns are round(x, 6) outputs whose 6dp
    # cents-style scaling is exact cross-engine (both engines emit the
    # same rounded double, pinned by the full-form certs at sf0.01-1).
    "ref_s5_nested_scan_fanout": {
        "key": "ticket_number",
        "weight": "ticket_number",
        "int_cols": ["ticket_number", "n_messages", "n_pages"],
    },
    "ref_p8_thread_classify": {
        "key": "event_id",
        "weight": "event_id",
        "int_cols": ["event_id"],
        "str_cols": ["thread_type"],
    },
    "llm_hashing_vectorizer": {
        "key": "doc_id",
        "weight": "dim",
        "int_cols": ["doc_id", "dim", "weight_raw"],
        "fixed6_cols": ["weight_l2"],
    },
    "llm_tfidf_top_terms": {
        "key": "doc_id",
        "weight": "rank",
        "int_cols": ["doc_id", "rank"],
        "str_cols": ["term"],
        "fixed6_cols": ["tfidf"],
    },
    "ref_p2_name_split": {
        "key": "custkey",
        "weight": "custkey",
        "int_cols": ["custkey"],
        "str_cols": ["full_name", "first_name", "last_name"],
    },
    "ref_p4_email_split": {
        "key": "custkey",
        "weight": "custkey",
        "int_cols": ["custkey", "n_emails", "all_valid"],
        "str_cols": ["primary_email", "emails_joined"],
    },
    "ref_p6_link_extract": {
        "key": "custkey",
        "weight": "custkey",
        "int_cols": ["custkey"],
        "str_cols": ["href", "kind", "link_id"],
    },
    # the single biggest full-form output in the catalog: all 60M
    # lineitem rows with ~60-char synthesized bodies; the r13 cohort
    # run measured its full-form sf10 canonicalization at >48min
    "ref_p15_attachment_failure_note": {
        "key": "orderkey",
        "weight": "linenumber",
        "int_cols": ["orderkey", "linenumber", "author_user_id"],
        "str_cols": ["thread_type", "body"],
    },
    # ~48M rows at sf10 (80% of lineitem passes the size filter)
    "ref_p14_size_guard": {
        "key": "orderkey",
        "weight": "linenumber",
        "int_cols": ["orderkey", "linenumber", "size_bytes", "oversize_warn"],
    },
    # ~11M orders rows at sf10
    "ref_p16_tags_passthrough": {
        "key": "orderkey",
        "weight": "orderkey",
        "int_cols": ["orderkey", "n_tags"],
        "str_cols": ["tags_joined"],
    },
}
DIGEST_BUCKETS = 4096
DIGEST_MIX_MOD = 99991


def digest_spark(df, spec):
    """Wrap a query's output DataFrame in the bucketed integer digest."""
    from pyspark.sql import functions as F

    w = (
        F.pmod(F.col(spec["weight"]), F.lit(DIGEST_MIX_MOD)) + F.lit(1)
    ).cast("bigint")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in spec.get("int_cols", []):
        v = F.coalesce(F.col(c).cast("bigint"), F.lit(0))
        aggs.append(F.sum(v).cast("bigint").alias(f"s_{c}"))
        aggs.append(F.sum(v * w).cast("bigint").alias(f"m_{c}"))
        aggs.append(F.count(F.col(c)).cast("bigint").alias(f"c_{c}"))
    for c in spec.get("money_cols", []):
        cents = F.coalesce(
            F.floor(F.col(c) * 100 + F.lit(0.5)).cast("bigint"), F.lit(0)
        )
        aggs.append(F.sum(cents).cast("bigint").alias(f"s_{c}"))
        aggs.append(F.sum(cents * w).cast("bigint").alias(f"m_{c}"))
        aggs.append(F.count(F.col(c)).cast("bigint").alias(f"c_{c}"))
    for c in spec.get("fixed6_cols", []):
        v6 = F.coalesce(
            F.floor(F.col(c) * 1000000 + F.lit(0.5)).cast("bigint"), F.lit(0)
        )
        aggs.append(F.sum(v6).cast("bigint").alias(f"s_{c}"))
        aggs.append(F.sum(v6 * w).cast("bigint").alias(f"m_{c}"))
        aggs.append(F.count(F.col(c)).cast("bigint").alias(f"c_{c}"))
    for c in spec.get("str_cols", []):
        sig = F.coalesce(
            (
                F.length(F.col(c)).cast("bigint") * F.lit(31)
                + F.ascii(F.substring(F.col(c), 1, 1)).cast("bigint")
            ),
            F.lit(0),
        )
        aggs.append(F.sum(sig).cast("bigint").alias(f"s_{c}"))
        aggs.append(F.sum(sig * w).cast("bigint").alias(f"m_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("bigint").alias(f"d_{c}"))
        aggs.append(F.count(F.col(c)).cast("bigint").alias(f"c_{c}"))
    bucket = (
        F.pmod(F.col(spec["key"]), F.lit(DIGEST_BUCKETS))
        .cast("bigint")
        .alias("bucket")
    )
    return df.groupBy(bucket).agg(*aggs)


def digest_sql(oracle: str, spec) -> str:
    """The DuckDB mirror of digest_spark over the query's oracle SQL."""
    w = f"({spec['weight']} % {DIGEST_MIX_MOD} + 1)"
    cols = ["CAST(count(*) AS BIGINT) AS n"]
    for c in spec.get("int_cols", []):
        v = f"coalesce(CAST({c} AS BIGINT), 0)"
        cols.append(f"CAST(sum({v}) AS BIGINT) AS s_{c}")
        cols.append(f"CAST(sum({v} * {w}) AS BIGINT) AS m_{c}")
        cols.append(f"CAST(count({c}) AS BIGINT) AS c_{c}")
    for c in spec.get("money_cols", []):
        cents = f"coalesce(CAST(floor({c} * 100 + 0.5) AS BIGINT), 0)"
        cols.append(f"CAST(sum({cents}) AS BIGINT) AS s_{c}")
        cols.append(f"CAST(sum({cents} * {w}) AS BIGINT) AS m_{c}")
        cols.append(f"CAST(count({c}) AS BIGINT) AS c_{c}")
    for c in spec.get("fixed6_cols", []):
        v6 = f"coalesce(CAST(floor({c} * 1000000 + 0.5) AS BIGINT), 0)"
        cols.append(f"CAST(sum({v6}) AS BIGINT) AS s_{c}")
        cols.append(f"CAST(sum({v6} * {w}) AS BIGINT) AS m_{c}")
        cols.append(f"CAST(count({c}) AS BIGINT) AS c_{c}")
    for c in spec.get("str_cols", []):
        sig = (
            f"coalesce(CAST(length({c}) AS BIGINT) * 31"
            f" + CAST(ascii(substr({c}, 1, 1)) AS BIGINT), 0)"
        )
        cols.append(f"CAST(sum({sig}) AS BIGINT) AS s_{c}")
        cols.append(f"CAST(sum({sig} * {w}) AS BIGINT) AS m_{c}")
        cols.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS d_{c}")
        cols.append(f"CAST(count({c}) AS BIGINT) AS c_{c}")
    return (
        f"WITH _digest_base AS ({oracle})\n"
        f"SELECT CAST({spec['key']} % {DIGEST_BUCKETS} AS BIGINT) AS bucket,\n"
        + ",\n".join("       " + c for c in cols)
        + "\nFROM _digest_base GROUP BY 1"
    )


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_session(shuffle_partitions=8)
    con = duckdb.connect()
    # At the generated-snapshot scales (sf10 = 500k docs) some oracles
    # (n-gram explosions, bloom replays) outgrow RAM that the Spark
    # driver JVM is also competing for; a capped allocator + a spill
    # directory turns oracle OOM-kills into slow-but-green runs. The
    # cap also stops one huge oracle from bloating the process and
    # starving later queries' Spark-side collects (the r10 batch-4
    # MemoryError cascade).
    # ADVICE r10: env values are user-controlled strings going into SQL
    # SET statements -- escape the path (a quote would break the
    # statement) and validate the memory string; on smaller boxes derive
    # the default cap from physical RAM instead of assuming the 128 GiB
    # bench box (a 48GB limit above physical RAM never engages and the
    # OS OOM killer fires first). A bad env var degrades to a warning,
    # not an aborted sweep.
    spill_dir = os.environ.get("TMPDIR", "/tmp").replace("'", "''")
    try:
        con.execute(f"SET temp_directory='{spill_dir}/duckdb_spill'")
    except Exception as exc:  # noqa: BLE001 -- degrade, don't abort
        print(f"warn: duckdb temp_directory not set ({exc})", file=sys.stderr)
    mem = os.environ.get("MINIDRIVER_DUCKDB_MEM")
    if mem is not None and not re.fullmatch(
        r"\d+(\.\d+)?\s*[KMGT]i?B", mem.strip(), re.IGNORECASE
    ):
        print(
            f"warn: ignoring malformed MINIDRIVER_DUCKDB_MEM={mem!r}"
            " (want e.g. 24GB)",
            file=sys.stderr,
        )
        mem = None
    if mem is None:
        total_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1e9
        )
        mem = f"{max(4, min(48, int(total_gb * 0.5)))}GB"
    try:
        con.execute(f"SET memory_limit='{mem.strip()}'")
    except Exception as exc:  # noqa: BLE001
        print(f"warn: duckdb memory_limit not set ({exc})", file=sys.stderr)
    for t in TABLES:
        # partial snapshots (e.g. the generated sf1 dir carries only
        # documents + embeddings) register what exists; a query that
        # needs a missing table fails loudly at its own row
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
    failures = []
    record: dict[str, dict] = {}

    def rec(name, rows_match=None, schema_match=None, hash_match=None,
            spark_rows=None, oracle_rows=None, err=None):
        record[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }

    digest_on = os.environ.get("MINIDRIVER_DIGEST") == "1"
    for name, spec in catalog.QUERIES.items():
        if only and name not in only:
            continue
        dspec = SCALE_DIGEST.get(name) if digest_on else None
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            if dspec is not None:
                sdf = digest_spark(sdf, dspec)
            bad = complex_output_cols(sdf.schema)
            if bad:
                # Mirror the OFFICIAL driver's failure mode, loudly: its
                # pandas canonicalizer raises on list/dict cells, so the
                # mirror must never be greener than the driver here.
                raise TypeError(
                    f"complex-typed output columns {bad} violate the "
                    "scalar-output contract (official pandas canonicalizer "
                    "cannot hash them)"
                )
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            rec(name, err=f"spark_error: {type(e).__name__}")
            continue
        if spec.oracle is None:
            print(f"ok?   {name}: rows-only check, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            rec(name, spark_rows=len(srows), err="no_oracle")
            continue
        try:
            osql = (
                digest_sql(spec.oracle, dspec)
                if dspec is not None
                else spec.oracle
            )
            res = con.execute(osql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            rec(name, spark_rows=len(srows), err=f"oracle_error: {type(e).__name__}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        else:
            sh = table_hash([tuple(r) for r in srows], scols)
            oh = table_hash(orows, ocols)
            if sh != oh:
                problems.append(f"valuehash spark={sh} duck={oh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            # show a small diff sample (columns reordered by name)
            sord = sorted(range(len(scols)), key=lambda i: scols[i])
            oord = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sset = {tuple(norm_cell(r[i]) for i in sord) for r in srows[:100000]}
            oset = {tuple(norm_cell(r[i]) for i in oord) for r in orows[:100000]}
            so = list(sset - oset)[:3]
            os_ = list(oset - sset)[:3]
            if so:
                print(f"      spark-only sample: {so}")
            if os_:
                print(f"      duck-only  sample: {os_}")
        else:
            tag = " [digest]" if dspec is not None else ""
            print(
                f"PASS  {name}: {len(srows)} rows{tag} ({time.time()-t0:.1f}s)"
            )
        rec(
            name,
            rows_match=len(srows) == len(orows),
            schema_match=sorted(scols) == sorted(ocols),
            hash_match=not problems,
            spark_rows=len(srows),
            oracle_rows=len(orows),
            err="; ".join(problems) or None,
        )
        if dspec is not None:
            record[name]["digest"] = True
    out = os.environ.get("MINIDRIVER_JSON")
    if out:
        with open(out, "w") as f:
            json.dump(record, f, indent=2)
        print(f"wrote {out} ({len(record)} entries)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
