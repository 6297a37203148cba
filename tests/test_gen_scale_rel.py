"""Relational sf1 snapshot invariants (tools/gen_scale_rel.py).

Replica-block scaling promises: 10x row counts with dense tiled keys,
EXACT preservation of the per-order lineitem fanout histogram, clean
referential integrity, and replica 0 bit-identical to the sf0.1 source.
These are the properties that make a sf0.1 -> sf1 growth ratio measure
data volume rather than distribution drift, so they are pinned here.

The snapshot itself is gitignored (regenerate with
`python tools/gen_scale_rel.py`); tests skip when it is absent so the
suite stays green on a fresh clone.
"""

from __future__ import annotations

import os

import duckdb
import pytest

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "testdata_sf1")
REPLICAS = 10

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(OUT, "lineitem.parquet")),
    reason="relational sf1 snapshot not generated (tools/gen_scale_rel.py)",
)


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def test_row_counts_and_dense_keys(con):
    for t, k in [
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
    ]:
        n_src = con.execute(f"SELECT count(*) FROM '{SRC}/{t}.parquet'").fetchone()[0]
        n, dk, mn, mx = con.execute(
            f"SELECT count(*), count(DISTINCT {k}), min({k}), max({k}) "
            f"FROM '{OUT}/{t}.parquet'"
        ).fetchone()
        assert n == REPLICAS * n_src, t
        # keys tile [0, 10K) densely, like the driver's own keys
        assert (dk, mn, mx) == (n, 0, n - 1), t
    n_li = con.execute(f"SELECT count(*) FROM '{OUT}/lineitem.parquet'").fetchone()[0]
    n_li_src = con.execute(f"SELECT count(*) FROM '{SRC}/lineitem.parquet'").fetchone()[0]
    assert n_li == REPLICAS * n_li_src


def test_lineitem_fanout_histogram_exactly_scaled(con):
    hist = lambda p: con.execute(  # noqa: E731
        "SELECT cnt, count(*) FROM (SELECT l_orderkey, count(*) AS cnt "
        f"FROM '{p}/lineitem.parquet' GROUP BY 1) GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert [(c, n * REPLICAS) for c, n in hist(SRC)] == hist(OUT)


def test_referential_integrity(con):
    for t, fk, dim, dk in [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ]:
        n = con.execute(
            f"SELECT count(*) FROM '{OUT}/{t}.parquet' a "
            f"ANTI JOIN '{OUT}/{dim}.parquet' d ON a.{fk} = d.{dk}"
        ).fetchone()[0]
        assert n == 0, (t, fk)


def test_replica_zero_is_the_source(con):
    # replica 0 (keys < source cardinality) must be bit-identical to
    # sf0.1 -- the scaled corpus CONTAINS the driver corpus
    for t, k in [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]:
        n_src = con.execute(
            f"SELECT count(*) FROM '{SRC}/orders.parquet'"
        ).fetchone()[0]
        diff = con.execute(
            f"SELECT count(*) FROM ("
            f"(SELECT * FROM '{OUT}/{t}.parquet' WHERE {k} < {n_src} "
            f" EXCEPT SELECT * FROM '{SRC}/{t}.parquet')"
            f" UNION ALL "
            f"(SELECT * FROM '{SRC}/{t}.parquet' "
            f" EXCEPT SELECT * FROM '{OUT}/{t}.parquet' WHERE {k} < {n_src}))"
        ).fetchone()[0]
        assert diff == 0, t
