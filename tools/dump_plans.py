"""Dump `.explain("formatted")` for named catalog queries into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence files
(OPTIMIZATION_rN.md references them; the judge checks plan claims
against these instead of running Spark).

Usage: python tools/dump_plans.py <sf_dir> <tag> <suffix> <query...|ALL>
e.g.   python tools/dump_plans.py /root/testdata/sf0.1 r13 after q02_min_cost_supplier

SPARK_GRAFT_PLAN_FINAL=1 instead runs each query through the shared fold
(`eventlog.fold`; `count()` would run a QueryExecution of its own) and
dumps the fold's FINAL adaptive plan: AQE's runtime decisions --
ReusedExchange/stage reuse, coalesced AQEShuffleReads, demoted/promoted
joins, InMemoryTableScans of persisted artifacts. Static dumps stay the
default: cheap, and what `.explain("formatted")` prints before a run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog
from census import ROOT, query_names
from groove_to_helpscout_migration_tool_spark import catalog, get_session
from groove_to_helpscout_migration_tool_spark.operators import cache


def main() -> None:
    sf_dir, tag, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    names = query_names(sys.argv[4:])
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(app_name="dump-plans")
    final = os.environ.get("SPARK_GRAFT_PLAN_FINAL", "0") == "1"
    for name in names:
        with cache.artifact_scope(spark, name):
            df = catalog.QUERIES[name].fn(spark, sf_dir)
            if final:
                _rows, plan = eventlog.fold(df)
            else:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
