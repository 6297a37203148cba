"""Extend the generated sf1 snapshot with the RELATIONAL tables.

tools/gen_scale.py gives the second decade (sf0.1 -> sf1) for the two
tables the dedup/ANN chains read (documents, embeddings).  This script
adds the other eight driver tables (region nation customer supplier
part orders lineitem events) at 10x sf0.1, so the TPC-H-shaped /
window / streaming-twin surface of the catalog can be hash-certified
and scale-probed across the same two decades.

Scaling method: REPLICA-BLOCK scaling, not row resampling.  The sf1
table is ten replicas b = 0..9 of the sf0.1 table, with every key
column offset by b * K (K = the source table's dense key cardinality,
keys are 0..K-1 in the driver data) and key-derived name columns
(Customer#%09d, Supplier#%09d) re-printed from the new key:

    customer:  c_custkey + b*15000            (c_name re-printed)
    supplier:  s_suppkey + b*1000             (s_name re-printed)
    part:      p_partkey + b*20000
    orders:    o_orderkey + b*150000, o_custkey + b*15000
    lineitem:  l_orderkey + b*150000, l_partkey + b*20000,
               l_suppkey  + b*1000
    events:    event_id   + b*100000, user_id  + b*1500
    region, nation: copied unchanged (fixed dimensions, exactly as a
               real 10x corpus keeps its dimension tables)

Why replicas and not bootstrap sampling: offsetting every foreign key
by the same block preserves the JOIN STRUCTURE exactly -- per-customer
order counts, per-order lineitem fanout, per-key value distributions,
predicate selectivities, and group-by key populations are all identical
to the driver's sf0.1 corpus, so a growth ratio measured against sf0.1
measures DATA volume alone, never distribution drift.  Replica b = 0
is bit-identical to the source rows.  Non-key attributes repeat across
replicas, which is the correct behavior for aggregate-shaped queries
(each group's population grows 10x, like a real 10x ingest of the same
business); no catalog query deduplicates these tables by value.

Everything is a pure function of the source parquet (no RNG at all),
so rerunning reproduces the snapshot bit-for-bit and the parquet stays
out of git (testdata_sf1/ is gitignored).

Usage: python tools/gen_scale_rel.py [out_dir]   (default
this checkout's testdata_sf1, alongside the gen_scale.py tables)
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SRC = "/root/testdata/sf0.1"
REPLICAS = 10

# table -> (key offset columns, passthrough columns); names re-printed
# below.  Offsets use the source key cardinality so replica key ranges
# tile [0, 10K) densely, exactly like the driver's own dense keys.
_SPEC = {
    "customer": {
        "keys": {"c_custkey": "customer"},
        "name": ("c_name", "Customer#%09d", "c_custkey"),
        "rest": ["c_nationkey", "c_acctbal", "c_mktsegment"],
    },
    "supplier": {
        "keys": {"s_suppkey": "supplier"},
        "name": ("s_name", "Supplier#%09d", "s_suppkey"),
        "rest": ["s_nationkey", "s_acctbal"],
    },
    "part": {
        "keys": {"p_partkey": "part"},
        "name": None,
        "rest": ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    },
    "orders": {
        "keys": {"o_orderkey": "orders", "o_custkey": "customer"},
        "name": None,
        "rest": ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    },
    "lineitem": {
        "keys": {
            "l_orderkey": "orders",
            "l_partkey": "part",
            "l_suppkey": "supplier",
        },
        "name": None,
        "rest": [
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ],
    },
    "events": {
        "keys": {"event_id": "events", "user_id": None},
        "name": None,
        "rest": ["ts", "event_type", "value", "props"],
    },
}


def main() -> None:
    global REPLICAS
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "testdata_sf1")
    # Optional replica-count override (r9 decade-3): `gen_scale_rel.py
    # out 100` tiles 100 replicas of sf0.1 (sf10: 60M lineitem rows).
    # Replica-block scaling composes across decades unchanged -- the
    # default stays 10, so the committed sf1 snapshot reproduces
    # byte-for-byte.
    if len(sys.argv) > 2:
        REPLICAS = int(sys.argv[2])
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    # dense key cardinalities fitted from the source (keys are 0..K-1;
    # asserted below so a driver-data change fails loudly, not subtly)
    card: dict[str, int] = {}
    for t, k in [
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
    ]:
        n, mx = con.execute(
            f"SELECT count(*), max({k}) FROM '{SRC}/{t}.parquet'"
        ).fetchone()
        assert mx == n - 1, f"{t}.{k} not dense 0..N-1 (n={n}, max={mx})"
        card[t] = n
    # events.user_id is not the table key; tile by its own dense range
    u_mx = con.execute(
        f"SELECT max(user_id) FROM '{SRC}/events.parquet'"
    ).fetchone()[0]
    user_card = int(u_mx) + 1

    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO "
            f"'{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: copied (dimension)")

    for t, spec in _SPEC.items():
        cols = []
        for k, base_table in spec["keys"].items():
            k_card = user_card if base_table is None else card[base_table]
            cols.append(f"{k} + b * {k_card} AS {k}")
        if spec["name"]:
            cname, fmt, key = spec["name"]
            k_card = card[spec["keys"][key]]
            cols.append(f"printf('{fmt}', {key} + b * {k_card}) AS {cname}")
        cols.extend(spec["rest"])
        # ORDER BY ALL pins a TOTAL deterministic row order: the first
        # key alone leaves equal-key ties (e.g. lineitems within one
        # l_orderkey) in scan-order, which a parallel parquet scan does
        # not guarantee run-to-run -- the bit-for-bit reproducibility
        # claim needs every column in the sort key (full-duplicate rows
        # are interchangeable, so bytes still match).
        sql = (
            f"COPY (SELECT {', '.join(cols)} "
            f"FROM '{SRC}/{t}.parquet', (SELECT unnest(range({REPLICAS})) AS b) "
            f"ORDER BY ALL) "
            f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        con.execute(sql)
        n = con.execute(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows ({REPLICAS} replicas)")

    # column order must match the source schema exactly (load_table and
    # the oracles both select by name, but keep parity for humans too)
    for t in _SPEC:
        src_cols = [
            c[0]
            for c in con.execute(
                f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'"
            ).fetchall()
        ]
        out_cols = [
            c[0]
            for c in con.execute(
                f"DESCRIBE SELECT * FROM '{out_dir}/{t}.parquet'"
            ).fetchall()
        ]
        assert set(src_cols) == set(out_cols), (t, src_cols, out_cols)


if __name__ == "__main__":
    main()
