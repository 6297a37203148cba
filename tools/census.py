"""Per-query census: run each catalog query once, in its own job group,
through the shared full-output fold, and print one line of what it ran
(jobs, executed stage attempts, listed-but-skipped stages, executed
tasks, shuffle bytes written) and what its final plan holds (source
scans, shuffle Exchanges less the fold's own, ReusedExchanges,
InMemoryTableScans; AQE's "Initial Plan" subtrees left out).

Usage: python tools/census.py <sf_dir> <query...|ALL>  (ALL = bench_manifest.json headline)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import eventlog

_NODE = re.compile(r"(?:\* )?(.+?)\s+\((\d+)\)")


def plan_counts(plan: str) -> dict[str, int]:
    """Operator counts over the tree sections of a formatted final plan."""
    nodes: dict[int, str] = {}
    in_tree, skip_col = False, None
    for line in plan.splitlines():
        if line.startswith(("== Physical Plan ==", "Subquery:")) or not line.strip():
            in_tree = bool(line.strip())
            continue
        col = len(line) - len(line.lstrip(" :+-"))
        if not in_tree or (skip_col is not None and col >= skip_col):
            continue
        skip_col = col if line[col:].startswith("== Initial Plan ==") else None
        m = _NODE.match(line[col:])
        if m:
            nodes.setdefault(int(m[2]), m[1])
    names = list(nodes.values())
    return {
        "scans": sum(n.startswith("Scan ") or n == "LocalTableScan" for n in names),
        # the first Exchange top-down is the fold's own single partition
        "exch": max(names.count("Exchange") - 1, 0),
        "reuse": names.count("ReusedExchange"),
        "imts": names.count("InMemoryTableScan"),
    }


def is_final(plan: str) -> bool:
    """Is the plan's root an executed ``AdaptiveSparkPlan``?"""
    m = re.match(r"== Physical Plan ==\nAdaptiveSparkPlan \((\d+)\)", plan)
    root = rf"^\({m[1]}\) AdaptiveSparkPlan\n(?:.+\n)*?" if m else None
    return bool(root and re.search(root + "Arguments: isFinalPlan=true$", plan, re.M))


def query_names(args: list[str]) -> list[str]:
    if args != ["ALL"]:
        return args
    with open(os.path.join(ROOT, "bench_manifest.json")) as fh:
        return list(json.load(fh)["headline"])


def main() -> None:
    from groove_to_helpscout_migration_tool_spark import catalog
    from groove_to_helpscout_migration_tool_spark.operators import cache

    sf_dir = sys.argv[1]
    spark, log = eventlog.session("census", {"spark.sql.shuffle.partitions": "16"})
    runs = []
    for name in query_names(sys.argv[2:]):
        t0 = time.monotonic()
        try:
            with cache.artifact_scope(spark, name):
                rows, plan = eventlog.fold(catalog.QUERIES[name].fn(spark, sf_dir))
                head = f"rows={rows}  wall={time.monotonic() - t0:.2f}s"
            runs.append((name, head, plan))
        except Exception as e:  # noqa: BLE001 - a census must not die mid-sweep
            runs.append((name, f"ERR {type(e).__name__}: {str(e)[:200]}", None))
    spark.stop()  # flush the event log
    groups = eventlog.parse(log)
    for name, head, plan in runs:
        if plan is None:
            print(f"{name}  {head}")
            continue
        g = groups.get(name, eventlog.Group())
        counts = "".join(f"  {k}={v}" for k, v in plan_counts(plan).items())
        print(f"{name}  {head}  jobs={g.jobs}  stages={len(g.stages)}  skipped={g.skipped}"
              f"  tasks={g.tasks}  shuffle_bytes={g.shuffle_bytes}"
              f"  final={str(is_final(plan)).lower()}{counts}")


if __name__ == "__main__":
    main()
