"""SparkSession factory + canonical table loading.

Scale notes:
  - AQE on everywhere (runtime shuffle coalescing, skew-join splitting,
    dynamic broadcast conversion) -- at 100 TB the static plan is never
    exactly right; AQE re-plans from real partition sizes.
  - ``spark.sql.shuffle.partitions`` defaults to the local core count for
    local runs; on a real cluster set it to ~2-3x total executor cores
    (or leave AQE's coalescing to shrink an intentionally-high number).
  - Session time zone pinned to UTC so wall-clock semantics match the
    parquet TIMESTAMP_NTZ test tables (and the DuckDB oracle). The
    reference pins America/Toronto (SyncTickets.php:38); pipelines that
    need reference-parity formatting pass an explicit zone instead of
    relying on the session default.
  - The driver-generated ``events`` table stores TIMESTAMP(NANOS) which
    Spark's vectorized parquet reader rejects; we read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``, runtime-settable) and
    convert to TIMESTAMP_NTZ at microsecond precision (truncation --
    identical to DuckDB's ns->us cast).
  - One JIT policy (``JIT_POLICY``): the C2 (tier-4) promotion thresholds
    are 10x their JDK 17 defaults. A migration command is one short-lived
    driver JVM, and most of what C2 compiles during it (Catalyst rules,
    Janino, one-off planning) stops running before the command ends; at
    the defaults the C2 threads used 30-47 s of a 70-100 s cold benchmark
    round on 4 vCPUs. Code that stays hot still reaches C2, but later:
    whether repeated sf0.1 calls settle at the default walls is not
    resolved (q01 was slower in 4 of 5 pairs over calls 8-10, inside a
    parent spread wider than the gap). C1 only
    (``-XX:TieredStopAtLevel=1``) saves more on a cold round but leaves
    repeated sf0.1 q01 calls ~2x slower, so it is not used. The policy
    rides ``spark.driver.defaultJavaOptions``, which Spark prepends to a
    caller's ``--driver-java-options``, so both reach the JVM. It acts
    only when ``get_session`` launches the JVM (perfbench,
    ``tools/minidriver.py`` and the other one-shot tools, the test
    suite); a JVM that is already running keeps its own flags. The
    steady-state timers (``bench.py``, ``tools/qbench.py``) pass
    ``jit_policy=False``: they time warm repeats of each query, which is
    what the policy delays, and their recorded series and ``CALIB_REF``
    were measured at the JDK defaults.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 32g: the heap must leave
    room for the Python workers and for a second session on the host."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(32 * 1024, host_mb // 2)}m"


def get_session(
    app_name: str = "groove2hs-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    jit_policy: bool = True,
) -> SparkSession:
    """Build (or fetch) the canonical SparkSession for this engine.

    ``jit_policy=False`` launches the JVM at the JDK's default JIT
    thresholds instead of ``JIT_POLICY`` (see the scale notes).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or int(cpus))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Python Data Source pushdown (sources/pyds.py page pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # ContextCleaner deletes checkpoint files when their RDD is GC'd
        # (read once at context startup -- must be set here, not later).
        # Long-lived drivers calling connected_components repeatedly would
        # otherwise accumulate checkpoint dirs unboundedly.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if jit_policy:
        builder = builder.config("spark.driver.defaultJavaOptions", JIT_POLICY)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we did not create.

    The correctness driver owns its own SparkSession; every catalog query
    funnels through here so results do not depend on who built the session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static conf on some builds; get_session sets it at build time
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table, normalizing the events nanos-as-long column."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long")).cast(
                "timestamp_ntz"
            ),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> SimpleNamespace:
    """Load the test tables as attributes (t.orders, t.lineitem, ...)."""
    configure(spark)
    names = names or TABLES
    return SimpleNamespace(**{n: load_table(spark, sf_dir, n) for n in names})
