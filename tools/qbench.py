"""Subset timing harness for A/B drift triage: time a handful of catalog
queries with the bench.py methodology (one build run, then warm runs;
per-query artifact unpersist + cache clear + explicit GC) without paying
for the full 61-query headline sweep.

Why this exists (r9 session-6): bench absolutes drift +-10-17% BETWEEN
sessions (untouched map-only queries moved +40-47% with tight in-run
spreads), so comparing a fresh run against a committed artifact
manufactures fake regressions. The procedure that resolves a suspected
regression in minutes:

    git worktree add /tmp/oldtree <old-sha>
    python tools/qbench.py /root/repo    <sf_dir> 3 <queries...>
    python tools/qbench.py /tmp/oldtree  <sf_dir> 3 <queries...>
    git worktree remove /tmp/oldtree

Same harness, same box, same hour -- the only variable left is the code.
This is how the r9 sf1 "regressions" (rag +53%, clusters +97% vs the
committed artifact) were shown to be environment drift: the OLD code
re-measured 10.8s on rag where its own artifact said 6.5s, while the new
nz-scale norm join measured 7.7s.

Usage: python tools/qbench.py <repo_root> <sf_dir> <warm_runs> <query...>
Prints one line: QBENCH {"name": {"build": s, "median": s, "runs": [...]}}
"""

from __future__ import annotations

import json
import statistics
import sys
import time


def main() -> None:
    root, sf_dir, warm = sys.argv[1], sys.argv[2], int(sys.argv[3])
    names = sys.argv[4:]
    # root-first so a worktree checkout's package shadows the installed repo
    sys.path.insert(0, root)

    from groove_to_helpscout_migration_tool_spark import catalog, get_session
    from groove_to_helpscout_migration_tool_spark.operators import cache

    # JDK-default JIT, as bench.py runs (session.py notes)
    spark = get_session(app_name="qbench", jit_policy=False)
    # warm the JVM + parquet footers once, as bench.py does
    catalog.QUERIES["q06_forecast_revenue"].fn(spark, sf_dir).collect()

    def _gc() -> None:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    out = {}
    for name in names:
        spec = catalog.QUERIES[name]
        t0 = time.time()
        spec.fn(spark, sf_dir).count()
        build = time.time() - t0
        runs = []
        for _ in range(warm):
            t0 = time.time()
            spec.fn(spark, sf_dir).count()
            runs.append(time.time() - t0)
        out[name] = {
            "build": round(build, 3),
            "median": round(statistics.median(runs), 3),
            "runs": [round(r, 3) for r in runs],
        }
        cache.unpersist_artifacts()
        spark.catalog.clearCache()
        _gc()
    print("QBENCH " + json.dumps(out))


if __name__ == "__main__":
    main()
