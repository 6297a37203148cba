"""TPC-H partsupp-shape queries (Q2 / Q11 / Q16 / Q20) over a synthesized
partsupp view.

The driver's testdata has no partsupp table, so the four classic
partsupp-centric TPC-H shapes were absent from the catalog.  This module
synthesizes a deterministic ``partsupp`` -- exactly 4 suppliers per part,
TPC-H-style stride assignment -- with *pure integer arithmetic* that is
expressed identically in the Spark plan and the DuckDB oracle CTE, so the
rows are bit-identical on both sides at every scale factor:

    stride        = (S + 3) div 4                 (S = count(supplier))
    ps_suppkey    = ((p_partkey + i * stride) % S) + 1     for i in 0..3
    ps_availqty   = (p_partkey * 13 + i * 97) % 9999 + 1
    ps_cost_cents = (p_partkey * 31 + i * 17) % 90000 + 1000
    ps_supplycost = ps_cost_cents / 100.0

The stride guarantees the 4 suppkeys per part are distinct whenever
S >= 4 (i * stride are distinct mod S for i in 0..3).  Costs are carried
as exact integer cents so every aggregate below sums BIGINTs and divides
once at the end -- no float-accumulation drift between engines.

Scale notes (100 TB stance): partsupp is a fact-sized table (4x part).
part after its selective filters, supplier, nation, and region are all
broadcast; the only shuffles are the per-key aggregations, each preceded
by a map-side partial agg.  Q2's min-cost-per-part is a window over the
part-filtered slice (<= 4 rows per ps_partkey partition by construction),
chosen over groupBy+broadcast-rejoin because the rejoin form re-executed
the whole 5-way cascade for the second reference (no shuffle boundary to
reuse below the agg -- 12 file scans in the r12 adaptive plan).

Reference parity: the reference has no relational tier at all (SURVEY.md
section 2.9) -- these queries are part of the Spark-free-tier surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.cache import checkpoint_artifact
from ..registry import register
from ..session import load_tables

# DuckDB CTE mirror of build_partsupp(); prepend inside WITH (...).
PARTSUPP_CTE = """partsupp AS (
  SELECT p_partkey AS ps_partkey,
         CAST(((p_partkey + i * ((_s + 3) // 4)) % _s) + 1 AS BIGINT) AS ps_suppkey,
         CAST((p_partkey * 13 + i * 97) % 9999 + 1 AS INTEGER) AS ps_availqty,
         CAST((p_partkey * 31 + i * 17) % 90000 + 1000 AS BIGINT) AS ps_cost_cents,
         ((p_partkey * 31 + i * 17) % 90000 + 1000) / 100.0 AS ps_supplycost
  FROM part
  CROSS JOIN (SELECT count(*) AS _s FROM supplier) sc
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) idx
)"""


def build_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized partsupp DataFrame (see module docstring for the math).

    The supplier count enters the plan as a broadcast one-row aggregate
    (not a driver-side collect), so the whole thing stays one declarative
    plan: scan part -> explode 4 -> project integer expressions.
    """
    t = load_tables(spark, sf_dir, ["part", "supplier"])
    s_count = t.supplier.agg(F.count("*").alias("_s"))
    stride = F.expr("(_s + 3) div 4")
    return (
        t.part.crossJoin(F.broadcast(s_count))
        .select(
            "p_partkey",
            "_s",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("_i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") + F.col("_i") * stride) % F.col("_s") + 1)
            .cast("bigint")
            .alias("ps_suppkey"),
            ((F.col("p_partkey") * 13 + F.col("_i") * 97) % 9999 + 1)
            .cast("int")
            .alias("ps_availqty"),
            ((F.col("p_partkey") * 31 + F.col("_i") * 17) % 90000 + 1000)
            .cast("bigint")
            .alias("ps_cost_cents"),
            (((F.col("p_partkey") * 31 + F.col("_i") * 17) % 90000 + 1000) / 100.0)
            .alias("ps_supplycost"),
        )
    )


# ---------------------------------------------------------------------------
# q02 min-cost regional supplier (TPC-H Q2 shape)
# ---------------------------------------------------------------------------
@register(
    "q02_min_cost_supplier",
    oracle=f"""
WITH {PARTSUPP_CTE},
rs AS (
  SELECT ps.ps_partkey, ps.ps_cost_cents, s.s_acctbal, s.s_name, n.n_name
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
),
mins AS (
  SELECT ps_partkey, min(ps_cost_cents) AS min_cost_cents
  FROM rs GROUP BY ps_partkey
)
SELECT p.p_partkey, p.p_name, p.p_brand, rs.s_name, rs.n_name,
       round(rs.s_acctbal, 2) AS s_acctbal,
       round(rs.ps_cost_cents / 100.0, 2) AS min_supplycost
FROM rs
JOIN mins ON rs.ps_partkey = mins.ps_partkey
         AND rs.ps_cost_cents = mins.min_cost_cents
JOIN part p ON p.p_partkey = rs.ps_partkey
WHERE p.p_size <= 15 AND p.p_type = 'PROMO'
ORDER BY s_acctbal DESC, p.p_partkey, rs.s_name
LIMIT 100
""",
    doc=(
        "TPC-H Q2 shape: cheapest EUROPE supplier per small PROMO part. "
        "Selective part filter broadcast against the partsupp fact; min "
        "cost via a per-part window over the filtered slice (<= 4 rows "
        "per partition; exact integer cents, no float min) so the join "
        "cascade builds ONCE; deterministic top-100 "
        "(TakeOrderedAndProject)."
    ),
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part", "supplier", "nation", "region"])
    ps = build_partsupp(spark, sf_dir)
    rs = (
        ps.join(
            F.broadcast(t.supplier),
            ps.ps_suppkey == t.supplier.s_suppkey,
        )
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("ps_partkey", "ps_cost_cents", "s_acctbal", "s_name", "n_name")
    )
    part_sel = t.part.filter((F.col("p_size") <= 15) & (F.col("p_type") == "PROMO"))
    # prune rs to the selected parts FIRST (broadcast), then take the
    # per-part min in ONE pass with a window over ps_partkey. The r12
    # groupBy+broadcast-rejoin form referenced rs_sel twice and Spark has
    # no shuffle boundary to reuse below the agg, so the ENTIRE 5-way
    # cascade (part scan, supplier-count agg, 4-way explode, three
    # broadcast joins, part_sel join) executed twice -- 12 file scans in
    # the final adaptive plan. The window partitions are <= 4 rows by
    # construction (4 suppliers per part, then region-filtered), so this
    # is NOT a window over the fact: it is a hash exchange of the
    # part-filtered slice on a key whose cardinality grows with |part|
    # -- embarrassingly parallel at any scale -- replacing a second full
    # build of the cascade. min is over exact integer cents; ties keep
    # every row, exactly as the min+rejoin did.
    rs_sel = rs.join(
        F.broadcast(part_sel.select("p_partkey", "p_name", "p_brand")),
        rs.ps_partkey == part_sel.p_partkey,
    )
    min_w = W.partitionBy("ps_partkey")
    return (
        rs_sel.withColumn(
            "min_cost_cents", F.min("ps_cost_cents").over(min_w)
        )
        .filter(F.col("ps_cost_cents") == F.col("min_cost_cents"))
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "s_name",
            "n_name",
            F.round(F.col("s_acctbal"), 2).alias("s_acctbal"),
            F.round(F.col("ps_cost_cents") / 100.0, 2).alias("min_supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("p_partkey"), F.asc("s_name"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q11 important stock (TPC-H Q11 shape)
# ---------------------------------------------------------------------------
def _q11_value_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q11's pre-checkpoint cascade (the per-part value frame), exposed
    as its own function so tools/explain_audit.py can pin the cascade's
    join strategy directly (VERDICT r13 task 7): the checkpointed query
    plan starts at Scan ExistingRDD, which hides the cascade from the
    generic AUDIT loop."""
    t = load_tables(spark, sf_dir, ["supplier", "nation"])
    ps = build_partsupp(spark, sf_dir)
    g = (
        ps.join(F.broadcast(t.supplier), ps.ps_suppkey == t.supplier.s_suppkey)
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_3", "NATION_7"))
        .select("ps_partkey", "ps_cost_cents", "ps_availqty")
    )
    return g.groupBy("ps_partkey").agg(
        F.sum(F.col("ps_cost_cents") * F.col("ps_availqty")).alias("value_cents")
    )


@register(
    "q11_important_stock",
    oracle=f"""
WITH {PARTSUPP_CTE},
g AS (
  SELECT ps.ps_partkey, ps.ps_cost_cents, ps.ps_availqty
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name IN ('NATION_3', 'NATION_7')
),
v AS (
  SELECT ps_partkey, sum(ps_cost_cents * ps_availqty) AS value_cents
  FROM g GROUP BY ps_partkey
),
tot AS (SELECT sum(value_cents) AS total_cents FROM v)
SELECT ps_partkey, round(value_cents / 100.0, 2) AS stock_value
FROM v CROSS JOIN tot
WHERE value_cents * 1000 > total_cents
""",
    doc=(
        "TPC-H Q11 shape: per-part stock value held by two nations' "
        "suppliers, kept when above 0.1% of the total. Exact integer-cents "
        "sums; the HAVING threshold is value*1000 > total, all-integer, so "
        "no engine can disagree at the boundary. Total enters as a "
        "broadcast one-row cross join (scalar-subquery pattern) computed "
        "over the materialized per-part frame, so the partsupp cascade "
        "builds once."
    ),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _q11_value_frame(spark, sf_dir)
    # v is referenced twice (the scalar total + the output rows). AQE
    # does NOT stage-reuse the duplicated subtree (measured r13: the
    # final adaptive plan holds TWO full cascades -- part scan,
    # supplier-count agg, 4-way explode, both broadcast joins, the
    # ps_partkey exchange -- with exchange reuse firing only when AQE is
    # OFF), so the fact-sized synth + shuffle executed twice. Eagerly
    # materializing the SLIM per-part frame (16 bytes/row, |part|-
    # bounded) truncates the lineage: one cascade build, then both the
    # total and the filter read the materialized rows -- guide-8's
    # "decide with small rows" shape. localCheckpoint, not persist: the
    # artifact must not outlive the call or leak into a cache another
    # run could reuse, and lineage fault-tolerance of a derived slim
    # frame is not worth a second cascade. Tracked (checkpoint_artifact)
    # because the ContextCleaner only releases checkpoint blocks after a
    # JVM GC enqueues their weak refs -- a looping library consumer must
    # be able to release them deterministically via unpersist_artifacts.
    v = checkpoint_artifact(v)
    tot = v.agg(F.sum("value_cents").alias("total_cents"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            "ps_partkey",
            F.round(F.col("value_cents") / 100.0, 2).alias("stock_value"),
        )
    )


# ---------------------------------------------------------------------------
# q16 parts/supplier relationship (TPC-H Q16 shape)
# ---------------------------------------------------------------------------
@register(
    "q16_parts_supplier_cnt",
    oracle=f"""
WITH {PARTSUPP_CTE}
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 11, 20, 28, 37, 42, 49)
  AND ps.ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 100.0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    doc=(
        "TPC-H Q16 shape: distinct-supplier count per (brand, type, size) "
        "excluding one brand/type and low-acctbal suppliers. The NOT IN "
        "is a broadcast left-anti join (null-safe here: s_suppkey is a "
        "key, never null); count(DISTINCT) is a two-phase partial "
        "aggregate under AQE."
    ),
)
def q16_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part", "supplier"])
    ps = build_partsupp(spark, sf_dir)
    part_sel = t.part.filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 11, 20, 28, 37, 42, 49))
    )
    bad_supp = t.supplier.filter(F.col("s_acctbal") < 100.0).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(part_sel.select("p_partkey", "p_brand", "p_type", "p_size")),
            ps.ps_partkey == part_sel.p_partkey,
        )
        .join(
            F.broadcast(bad_supp),
            ps.ps_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q20 potential part promotion (TPC-H Q20 shape)
# ---------------------------------------------------------------------------
@register(
    "q20_surplus_suppliers",
    oracle=f"""
WITH {PARTSUPP_CTE},
qty AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS year_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <  TIMESTAMP '1996-01-01'
  GROUP BY l_partkey, l_suppkey
)
SELECT DISTINCT s.s_name, n.n_name
FROM partsupp ps
JOIN qty ON qty.l_partkey = ps.ps_partkey AND qty.l_suppkey = ps.ps_suppkey
JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_name LIKE 'red%'
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE 2 * ps.ps_availqty > qty.year_qty
""",
    doc=(
        "TPC-H Q20 shape: suppliers of red parts whose stock exceeds half "
        "the quantity they shipped in 1995. The half-of-sum comparison is "
        "rewritten all-integer (2*availqty > sum of integral quantities) "
        "so the boundary can't flip on float order. lineitem pre-agg "
        "shrinks the fact before the (partkey, suppkey) equi-join."
    ),
)
def q20_surplus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["part", "supplier", "nation", "lineitem"])
    ps = build_partsupp(spark, sf_dir)
    qty = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("year_qty"))
    )
    red_parts = t.part.filter(F.col("p_name").like("red%")).select("p_partkey")
    return (
        ps.join(
            qty,
            (ps.ps_partkey == qty.l_partkey) & (ps.ps_suppkey == qty.l_suppkey),
        )
        .join(F.broadcast(red_parts), ps.ps_partkey == red_parts.p_partkey)
        .filter(2 * F.col("ps_availqty") > F.col("year_qty"))
        .join(F.broadcast(t.supplier), ps.ps_suppkey == t.supplier.s_suppkey)
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .distinct()
    )
