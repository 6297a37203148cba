"""Subset timing harness for A/B drift triage: time a handful of catalog
queries with ``bench.time_query`` -- bench.py's own per-query routine
(one build run, adaptive warm runs through the full-output fold, GC
between runs, then artifact release) -- without paying for the full
61-query headline sweep.

Why this exists (r9 session-6): bench absolutes drift +-10-17% BETWEEN
sessions (untouched map-only queries moved +40-47% with tight in-run
spreads), so comparing a fresh run against a committed artifact
manufactures fake regressions. The procedure that resolves a suspected
regression in minutes:

    mkdir <old_tree> && git archive <old-sha> | tar -x -C <old_tree>
    python tools/qbench.py <repo>      <sf_dir> 3 <queries...>
    python tools/qbench.py <old_tree>  <sf_dir> 3 <queries...>

Same harness, same box, same hour -- the only variable left is the code.
The harness is the <repo_root> checkout's bench.py, so both trees need
``bench.time_query``. A tree from before ``time_query`` times ``count()``,
which prunes work the fold runs, so its own tools/qbench.py is not
comparable with fold timings. To A/B across that boundary, time the old
tree's package through this ``time_query``: copy this checkout's
bench.py and tools/eventlog.py over the old tree's, then run this
qbench with the old tree as <repo_root>.
This is how the r9 sf1 "regressions" (rag +53%, clusters +97% vs the
committed artifact) were shown to be environment drift: the OLD code
re-measured 10.8s on rag where its own artifact said 6.5s, while the new
nz-scale norm join measured 7.7s.

Usage: python tools/qbench.py <repo_root> <sf_dir> <warm_runs> <query...>
(<warm_runs> below 2 is raised to 2: the spread needs two warm runs.)
Prints one line: QBENCH {"name": {"build": s, "median": s, "runs": [...],
"spread": pct, "artifacts": n}}; <warm_runs> is the minimum, extended
as bench.py extends it while the spread stays high.
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    root, sf_dir, warm = sys.argv[1], sys.argv[2], int(sys.argv[3])
    names = sys.argv[4:]
    # root-first so the given checkout's bench.py and package are the
    # ones timed
    sys.path.insert(0, root)

    from bench import session, time_query

    spark = session("qbench", sf_dir)
    out = {name: time_query(spark, sf_dir, name, n_warm=max(2, warm)) for name in names}
    print("QBENCH " + json.dumps(out))


if __name__ == "__main__":
    main()
