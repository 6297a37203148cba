"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each run of a query collects ``tools/eventlog.fold_frame`` over its
frame: a row count and an ``xxhash64`` sum over every column of every
output row, so Catalyst cannot prune the columns or operators that a
``count()`` would leave out. ``time_query`` is the one per-query routine;
``tools/qbench.py`` calls it for subset A/B runs.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tools"))

from eventlog import fold_frame
from groove_to_helpscout_migration_tool_spark import catalog, get_session
from groove_to_helpscout_migration_tool_spark.operators import cache

# Headline membership lives in bench_manifest.json (committed manifest +
# changelog; VERDICT r6 task 4 -- membership changes must never be silent).
# The rotation rationale for every past drop is a changelog entry there;
# the full oracle sweep still runs and times every catalog query each
# round regardless of headline membership.
def _load_manifest() -> dict:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "bench_manifest.json")
    with open(path) as f:
        return json.load(f)


MANIFEST = _load_manifest()
HEADLINE = list(MANIFEST["headline"])


# Measurement shape (r6): an explicit BUILD run, then N_WARM timed warm
# runs, extended adaptively while the steady-state spread stays above
# SPREAD_TARGET. r5's median-of-5 folded the build run into the median
# pool: on a loaded box the capped-minhash median read 1.75s (all-runs
# noise) while its true warm runs sit ~0.8s, and its "build" column
# showed 0.0 exactly when the median absorbed the build cost. Separating
# the phases makes the build column honest for every query whose runs
# registered a persisted artifact (the count time_query's artifact scope
# released) and keeps GC/compile noise of the first run out of the median.
def _warm_runs() -> int:
    """Parse SPARK_GRAFT_WARM_RUNS, clamped >= 2 (the spread metric
    needs two samples). A malformed value must not abort a multi-hour
    bench at import -- fail soft to the default with a stderr note."""
    raw = os.environ.get("SPARK_GRAFT_WARM_RUNS", "4")
    try:
        return max(2, int(raw.strip()))
    except ValueError:
        print(
            f"bench: ignoring malformed SPARK_GRAFT_WARM_RUNS={raw!r},"
            " using 4",
            file=sys.stderr,
        )
        return 4


N_WARM = _warm_runs()
                    # timed warm runs per query (baseline; 1 build + 4 warm
                    # = the same 5 executions per query as r5). The env
                    # override exists for off-SF growth-measurement runs
                    # (e.g. sf1) where per-query medians over fewer runs
                    # suffice and the full protocol would take hours.
                    # Floor of 2: the spread metric is defined on the two
                    # fastest runs, so a single warm run can't be scored.
MAX_EXTRA = 4       # adaptive budget: extra warm runs while spread is high
SPREAD_TARGET = 12.0  # percent; below the <15% evidence bar with margin


# --- constant-work calibration probe (VERDICT r9 task 2) -------------------
# A fixed, catalog-independent compute job that measures the BOX, not the
# code under test: 8e9 range rows through xxhash64 into a bit_xor fold on
# 32 partitions -- pure whole-stage-codegen JVM compute, no parquet, no
# shuffle, no Python. Every BENCH_r*.json stamps its median (pre- and
# post-queries, so intra-session drift is visible too) and a normalized
# headline total value_norm = value * (CALIB_REF / calib). Cross-round
# deltas on value_norm are plan-attributable by construction; raw `value`
# deltas on an idle-vs-loaded box are not (the r8->r9 "+12.8%" forensic
# session this probe exists to replace).
CALIB_ROWS = 8_000_000_000
# committed reference: the pooled pre/post median from the r10
# builder-session full bench on an otherwise-idle box (runs
# 0.875-1.138s; earlier sizing sessions read ~1.23s because background
# generators shared the box -- the anchor must come from the same
# conditions the bench itself runs under). Rounds normalize to THIS
# box-speed: value_norm is "what the total would read if the box ran at
# the r10 calibration speed". Update only with a same-session matched
# pair.
CALIB_REF = 0.99


def _calibration_runs(spark, n_warm: int = 3) -> list[float]:
    """One discarded warmup + ``n_warm`` timed runs of the probe."""
    runs = []
    for i in range(n_warm + 1):
        t0 = time.time()
        spark.range(0, CALIB_ROWS, 1, 32).selectExpr(
            "bit_xor(xxhash64(id)) as h"
        ).collect()
        dt = time.time() - t0
        if i > 0:  # first run pays codegen/JIT; it is not box speed
            runs.append(round(dt, 3))
    return runs


# Second constant-work probe: the PYTHON/ARROW boundary (r13). The
# codegen probe above cannot see drift in Python-worker spawn, Arrow
# serialization, or interpreted-Python throughput -- the r12 matched
# pair proved such drift exists ("+77% walls at the r11 stamp's own
# calib") and the r13 host-variance session re-confirmed it (stamps
# with near-equal calib medians disagreed 2-3x on Arrow-stage queries).
# This probe times a fixed mapInPandas fold so cross-round detail
# stamps can ATTRIBUTE drift (JVM vs boundary); value_norm stays
# defined on the JVM probe (comparability with r9-r12). r14 (VERDICT
# r13 task 3) adds value_norm_blend alongside: the r12/r13 evidence
# showed the JVM probe alone misprices Arrow-heavy queries 2-3x, so
# the blend normalizes by the GEOMETRIC MEAN of the two per-probe
# speed factors (equal weights -- the headline set is roughly half
# JVM-relational, half Arrow/Python-boundary LLM ops):
#   value_norm_blend = value * sqrt((CALIB_REF/calib) * (CALIB_ARROW_REF/arrow))
# Both fields ride every stamp so one round of side-by-side records
# the divergence (BENCH_NOTES) before any convention switch.
CALIB_ARROW_ROWS = 4_000_000
# committed reference for the Arrow probe: the r13 final builder stamp
# (sha 8a673dd, calib 1.549 / arrow 0.776) -- the first stamp the probe
# existed in. The blend series therefore starts at r13; value_norm's
# r10 anchor is untouched.
CALIB_ARROW_REF = 0.776


def _calibration_runs_arrow(spark, n_warm: int = 3) -> list[float]:
    """One discarded warmup + ``n_warm`` timed runs of the Arrow probe."""

    def _fold(batches):
        for pdf in batches:
            yield pdf[["id"]].assign(id=(pdf["id"] * 2654435761) % 1000003).groupby(
                pdf["id"] % 97
            ).sum().reset_index(drop=True)

    runs = []
    for i in range(n_warm + 1):
        t0 = time.time()
        (
            spark.range(0, CALIB_ARROW_ROWS, 1, 32)
            .mapInPandas(_fold, "id long")
            .selectExpr("sum(id)")
            .collect()
        )
        dt = time.time() - t0
        if i > 0:
            runs.append(round(dt, 3))
    return runs


def _git_sha() -> str:
    """HEAD sha (+ '-dirty' if the tree differs): stamped into the bench
    JSON so a bench record taken at a stale commit is detectable."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=here, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=no"],
            cwd=here, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        return f"{sha}-dirty" if sha and dirty else (sha or "unknown")
    except Exception:
        return "unknown"


def _skew_metrics() -> dict | None:
    """Straggler bounds as a per-round artifact (VERDICT r5 item 7).

    Runs tools/skew_stress.py (own subprocess: it needs its own session
    with event logging on and broadcast joins disabled) at sf0.01 and
    folds its scenario ratios into the bench detail, so the skew evidence
    refreshes every round alongside cc_convergence instead of living in a
    one-off SKEW_r{N}.json. Never fails the bench: a broken harness
    reports {"error": ...} and the headline numbers still land. Set
    SPARK_GRAFT_SKEW_PROBES=0 to skip (e.g. an off-SF timing-only run
    where the sf0.01 straggler bounds would just repeat the last
    stamp)."""
    if os.environ.get("SPARK_GRAFT_SKEW_PROBES", "1") == "0":
        return None
    here = os.path.dirname(os.path.abspath(__file__))
    skew_sf = os.environ.get("SPARK_GRAFT_SKEW_SF_DIR", "/root/testdata/sf0.01")
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(here, "tools", "skew_stress.py"), skew_sf],
            capture_output=True, text=True, timeout=240,
        )
        last = proc.stdout.strip().splitlines()[-1]
        report = json.loads(last)
        # compact: the ratios + violations are the evidence; the per-stage
        # record counts stay reproducible via the tool itself
        return {
            "sf_dir": report.get("sf_dir"),
            "max_over_median": {
                name: (s or {}).get("max_over_median")
                for name, s in report.get("scenarios", {}).items()
            },
            "violations": report.get("violations", []),
        }
    except Exception as exc:  # noqa: BLE001 -- bench must not die on telemetry
        return {"error": f"{type(exc).__name__}: {exc}"}


def _scale_metrics() -> dict | None:
    """Shuffle-record growth probes as a per-round artifact (VERDICT r6
    task 8 -- SCALE evidence re-stamps every round like the skew bounds).

    Runs tools/scale_records.py (own subprocess: it needs two sessions
    with event logging) at sf0.01 -> sf0.1 and folds the growth ratios
    into the bench detail, ALSO refreshing SCALE_r{N}.json (N = newest
    official CORRECTNESS round + 1, i.e. the round being recorded) so
    tests/test_scale_records.py always validates the current round's
    measurement. Never fails the bench; set SPARK_GRAFT_SCALE_PROBES=0
    to skip (e.g. quick local iterations)."""
    if os.environ.get("SPARK_GRAFT_SCALE_PROBES", "1") == "0":
        return None
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", p))
    ]
    artifact = os.path.join(here, f"SCALE_r{max(rounds, default=0) + 1}.json")
    # Evidence attached by other tools (decade2 / sf1_certification /
    # sf1_red_rows / sf1_excluded / bench_decade, from
    # tools/merge_scale_evidence.py and the sf1 bench comparison) must
    # survive the per-bench decade-1 refresh. Carry EVERY key the
    # decade-1 sweep does not itself write -- an explicit whitelist
    # already silently dropped bench_decade/sf1_excluded once.
    _D1_KEYS = {
        "small_sf_dir", "large_sf_dir", "data_ratio", "linear_bound",
        "probes", "violations",
    }
    extra = {}
    try:
        with open(artifact) as fh:
            prev = json.load(fh)
        extra = {k: v for k, v in prev.items() if k not in _D1_KEYS}
    except (OSError, ValueError):
        pass
    try:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(here, "tools", "scale_records.py"),
                os.environ.get("SPARK_GRAFT_SCALE_SMALL", "/root/testdata/sf0.01"),
                os.environ.get("SPARK_GRAFT_SCALE_LARGE", "/root/testdata/sf0.1"),
                artifact,
            ],
            capture_output=True, text=True, timeout=600,
        )
        last = proc.stdout.strip().splitlines()[-1]
        report = json.loads(last)
        if extra:
            try:
                with open(artifact) as fh:
                    cur = json.load(fh)
                cur.update(extra)
                with open(artifact, "w") as fh:
                    json.dump(cur, fh, indent=1)
                    fh.write("\n")
            except (OSError, ValueError):
                pass
        return {
            "artifact": os.path.basename(artifact),
            "growth_ratio": {
                name: (p or {}).get("growth_ratio")
                for name, p in report.get("probes", {}).items()
            },
            "violations": report.get("violations", []),
        }
    except Exception as exc:  # noqa: BLE001 -- bench must not die on telemetry
        return {"error": f"{type(exc).__name__}: {exc}"}


def session(app_name: str, sf_dir: str):
    """The timing session: JDK-default JIT, since this harness times warm
    repeats (session.py notes), with the JVM and parquet footers warmed
    once so timings measure the queries."""
    spark = get_session(app_name=app_name, jit_policy=False)
    catalog.QUERIES["q06_forecast_revenue"].fn(spark, sf_dir).collect()
    return spark


def _gc(spark) -> None:
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def time_query(spark, sf_dir: str, name: str, n_warm: int = N_WARM) -> dict:
    """Time one catalog query in an artifact scope named after it: a BUILD
    run, then ``n_warm`` warm runs (more while the spread stays high),
    then release what it persisted. Each run is a fresh ``fn()`` (a fresh
    logical plan, so every shuffle re-executes) collected through the
    full-output fold.

    -> {"build": the build run's seconds, "median"/"spread"/"runs": the
    warm runs, "artifacts": how many persisted or checkpointed artifacts
    one run registers; with none, the build run is only warm-up}.
    """
    # runs[0] is the BUILD run: with none of its artifacts cached it pays the
    # one-time artifact materialization (signature tables, inverted
    # lists, shingle caches) plus codegen/compile warmup, so it stays out
    # of the median -- r5 derived build as run1 - median over a mixed
    # pool, which collapsed to 0.0 whenever noise pushed the median up
    # to the build run. WARM runs reuse the persisted artifacts via
    # CacheManager plan-matching -- the operator's intended steady state.
    # Adaptive extension: queries whose steady-state spread exceeds
    # SPREAD_TARGET get up to MAX_EXTRA more samples; the median over
    # more runs is what tells drift from regression.
    runs = []
    with cache.artifact_scope(spark, name) as scope:
        while True:
            t0 = time.time()
            fold_frame(catalog.QUERIES[name].fn(spark, sf_dir)).collect()
            runs.append(time.time() - t0)
            # drain garbage BETWEEN runs (untimed): letting the JVM pick its
            # own moment means a full collection lands inside a random timed
            # run -- measured as the difference between an 16% and a 2%
            # two-fastest spread on the ANN family
            _gc(spark)
            warm = runs[1:]
            if len(warm) < n_warm:
                continue
            med = statistics.median(warm)
            # steady-state repeatability: spread of the TWO fastest runs
            # (same definition as r4/r5 so rounds compare)
            fast = sorted(warm)[:2]
            spread = (fast[-1] - fast[0]) / max(med, 1e-9) * 100
            if spread <= SPREAD_TARGET or len(warm) >= n_warm + MAX_EXTRA:
                break
    # The scope released this query's artifacts, which would otherwise pile
    # up across 40+ queries and inflate later ones severalfold (the r2 gap);
    # the explicit GC drains the freed blocks now, not inside the next query.
    _gc(spark)
    # every run is a fresh fn() that registers its artifacts again; rounding
    # up keeps artifacts > 0 (BUILD_SPLIT) exactly when the scope held any
    per_run = math.ceil(scope.artifacts / len(runs))
    return {"build": round(runs[0], 3), "median": round(med, 3), "spread": round(spread, 1),
            "runs": [round(r, 3) for r in warm], "artifacts": per_run}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = session("bench", sf_dir)
    timings: dict[str, float] = {}
    build: dict[str, float] = {}
    spreads: dict[str, float] = {}
    cc_stats: dict = {}
    calib_pre = _calibration_runs(spark)
    calib_arrow_pre = _calibration_runs_arrow(spark)
    _gc(spark)

    for name in HEADLINE:
        if name not in catalog.QUERIES:
            continue
        t = time_query(spark, sf_dir, name)
        timings[name] = t["median"]
        spreads[name] = t["spread"]
        # build-once-query-many economics: the one-time cost over the
        # steady state, for exactly the queries that built an artifact
        if t["artifacts"]:
            build[name] = round(max(t["build"] - t["median"], 0.0), 3)
        if name == "llm_dedup_clusters":
            # convergence telemetry: a rounds regression shows up here
            # before it shows up as wall time
            from groove_to_helpscout_migration_tool_spark.operators.dedup import CC_LAST

            cc_stats = dict(CC_LAST)
    calib_post = _calibration_runs(spark)
    calib_arrow_post = _calibration_runs_arrow(spark)
    # the bench session's 32 threads are idle but its JVM still holds
    # memory; stop it before the skew harness spawns its own JVM
    spark.stop()
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail, line = build_output(
        timings, build, spreads, sf_val, _git_sha(),
        calib={"pre": calib_pre, "post": calib_post},
        calib_arrow={"pre": calib_arrow_pre, "post": calib_arrow_post},
    )
    if cc_stats:
        detail["cc_convergence"] = cc_stats
    skew = _skew_metrics()
    if skew:
        detail["skew"] = skew
    scale = _scale_metrics()
    if scale:
        detail["scale"] = scale
    # BENCH_DETAIL.json is the COMMITTED sf0.1 artifact; a run against any
    # other sf_dir (the decade pairs at testdata_sf1/sf10) must not clobber
    # it -- that exact accident cost a forensic session in r9 and recurred
    # in r10. Non-default dirs get a suffixed file instead.
    default_dir = os.path.realpath("/root/testdata/sf0.1")
    this_dir = os.path.realpath(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    # the suffix carries a short hash of the full realpath besides the
    # leaf name: two distinct dirs with the same leaf (/a/sf1 vs /b/sf1)
    # must not silently share a detail file (ADVICE r10)
    import hashlib as _hashlib

    detail_name = (
        "BENCH_DETAIL.json"
        if this_dir == default_dir
        else (
            f"BENCH_DETAIL_{os.path.basename(this_dir)}"
            f"_{_hashlib.sha256(this_dir.encode()).hexdigest()[:6]}.json"
        )
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
        print(json.dumps(detail), file=sys.stderr)
    except Exception:
        pass
    print(line)


def _set_delta(current: set[str]) -> dict:
    """Headline-set churn vs the newest BENCH_r*.json at the repo root:
    {vs: "BENCH_rN", added: [...], dropped: [...], common: n}. Totals are
    only comparable round-over-round on the common subset; this stamps
    the membership change into the artifact itself (VERDICT r6 task 4)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    newest, newest_n = None, -1
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m and int(m.group(1)) > newest_n:
            newest, newest_n = path, int(m.group(1))
    if newest is None:
        return {"vs": None, "added": [], "dropped": [], "common": len(current)}
    try:
        with open(newest) as f:
            rec = json.load(f)
        # driver wrapper: {"n", "rc", "tail", "parsed": <compact line>};
        # fall back to a bare compact/detail record
        parsed = rec.get("parsed") if isinstance(rec.get("parsed"), dict) else rec
        prev = set((parsed or {}).get("queries", {}))
    except (OSError, ValueError):
        return {"vs": None, "added": [], "dropped": [], "common": len(current)}
    return {
        "vs": f"BENCH_r{newest_n}",
        "added": sorted(current - prev),
        "dropped": sorted(prev - current),
        "common": len(current & prev),
    }


def _bench_notes():
    """Contents of the committed BENCH_NOTES.json (round drift analyses),
    or None -- embedded in the detail sidecar so the analysis survives
    each round's rewrite of BENCH_DETAIL.json."""
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_NOTES.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def build_output(
    timings: dict[str, float],
    build: dict[str, float],
    spreads: dict[str, float],
    sf_val,
    sha: str,
    calib: dict[str, list[float]] | None = None,
    calib_arrow: dict[str, list[float]] | None = None,
) -> tuple[dict, str]:
    """(full detail dict, compact stdout contract line).

    Full detail (build split, steady-state spreads) goes to a sidecar
    file + stderr; the FINAL stdout line is the compact contract JSON.
    The driver keeps only a ~2KB tail of stdout, so the last line must
    stay well under that: 2-decimal timings, compact separators, no
    auxiliary dicts (r2/r3 benches went unparsed when the line grew).
    """
    total = round(sum(timings.values()), 3)
    calib_med = None
    if calib and (calib.get("pre") or calib.get("post")):
        all_runs = sorted((calib.get("pre") or []) + (calib.get("post") or []))
        calib_med = round(statistics.median(all_runs), 3)
    arrow_med = None
    if calib_arrow and (calib_arrow.get("pre") or calib_arrow.get("post")):
        arrow_runs = sorted(
            (calib_arrow.get("pre") or []) + (calib_arrow.get("post") or [])
        )
        arrow_med = round(statistics.median(arrow_runs), 3)
    # blended normalization (r14, VERDICT r13 task 3): geometric mean of
    # the two per-probe speed factors -- rides ALONGSIDE value_norm, it
    # does not replace it (r9-r13 comparability).
    norm_blend = (
        round(
            total
            * ((CALIB_REF / calib_med) * (CALIB_ARROW_REF / arrow_med)) ** 0.5,
            3,
        )
        if calib_med and arrow_med
        else None
    )
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "build": build,
        "spread_pct": spreads,
        "sha": sha,
        "sf": sf_val,
        # constant-work calibration probe (VERDICT r9 task 2): pre/post
        # raw runs, the pooled median, the committed reference, and the
        # box-speed-normalized headline total. Compare value_norm across
        # rounds; compare raw value only within one session.
        "calib": {
            "rows": CALIB_ROWS,
            "pre": (calib or {}).get("pre"),
            "post": (calib or {}).get("post"),
            "median": calib_med,
            "ref": CALIB_REF,
        },
        "value_norm": (
            round(total * CALIB_REF / calib_med, 3) if calib_med else None
        ),
        # Arrow-boundary probe (raw runs + median) and the blended
        # normalization it feeds -- side-by-side with value_norm.
        "calib_arrow": {
            "rows": CALIB_ARROW_ROWS,
            "pre": (calib_arrow or {}).get("pre"),
            "post": (calib_arrow or {}).get("post"),
            "median": arrow_med,
            "ref": CALIB_ARROW_REF,
        },
        "value_norm_blend": norm_blend,
        # membership delta vs the newest recorded round, so a total that
        # moved because the SET moved is never mistaken for a perf change
        "set_delta": _set_delta(set(timings)),
        # committed drift analyses (BENCH_NOTES.json) ride along so a
        # root-caused regression survives the per-round detail rewrite
        "notes": _bench_notes(),
    }
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf_val,
        "sha": sha,
    }
    if calib_med:
        # the two cross-round-comparable numbers ride the contract line
        compact["calib"] = calib_med
        compact["value_norm"] = round(total * CALIB_REF / calib_med, 2)
    if arrow_med:
        compact["calib_arrow"] = arrow_med
    if norm_blend is not None:
        compact["value_norm_blend"] = round(norm_blend, 2)
    line = json.dumps(compact, separators=(",", ":"))
    # hard guard: never exceed the driver's ~2KB tail buffer. Precision
    # ladder 2dp -> 1dp -> int: at 4-digit timings 1dp saves nothing
    # ("9999.99" -> "10000.0"), so the final rung rounds to integers,
    # which bounds the line for any plausible headline count. An engaged
    # rung is named in "precision" so a rounded line is never read as 2dp.
    for ndigits in (1, 0):
        if len(line) <= 1900:
            break
        compact["precision"] = ndigits
        compact["queries"] = {
            k: (round(v, ndigits) if ndigits else int(round(v)))
            for k, v in timings.items()
        }
        line = json.dumps(compact, separators=(",", ":"))
    # Last-resort rung (headline growth + pathological 4-digit timings):
    # drop per-query entries LONGEST NAME FIRST, counting what was cut in
    # "queries_omitted" so the truncation is visible, never silent. The
    # full per-query record is always in BENCH_DETAIL.json regardless.
    if len(line) > 1900:
        by_len = sorted(compact["queries"], key=lambda k: (-len(k), k))
        omitted = 0
        while len(line) > 1900 and by_len:
            del compact["queries"][by_len.pop(0)]
            omitted += 1
            compact["queries_omitted"] = omitted
            line = json.dumps(compact, separators=(",", ":"))
    return detail, line


if __name__ == "__main__":
    main()
