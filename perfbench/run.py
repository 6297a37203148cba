"""Benchmark of the migration product and the query catalog.

    python3 perfbench/run.py --workload migrate_throttled --seed 1 --seconds 5 --trace 0

Workloads (BENCHMARK.json says why each exists):
  migrate_throttled  sync-customers + sync-tickets over localhost HTTP with the
                     Groove/HelpScout budgets binding
  catalog_mix        8 registered catalog queries on a generated sf-shaped corpus

Set-up (session, inputs, API server) runs SETUPS times; ``setup_s`` is the
median. Timed rounds then repeat until ``--seconds`` have passed, at least
one; each end-to-end metric is the median over them. The first round runs
in a fresh session, as one migration command or one catalog pass does, so
it pays JIT and codegen. ``cpu_s`` is the CPU seconds all the run's
processes spend in a round. The round's wall (migration: first probe to
last accepted receipt; catalog: the queries' summed walls) is the per-layer
``round.wall_s``: on a shared host it moves with the time the host steals
from the VM, which CPU time leaves out.
Every round's outputs are checked. ``--trace 1`` adds one traced round
(spans + Spark event log) and prints the per-layer metrics instead;
BENCHMARK.json lists both metric sets with their units, and a per-layer
metric that does not apply to the workload reads 0.

The last stdout line is one JSON object: correct, attempted, failed, metrics.
The exit code is non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3

# The plans run a few dozen Spark jobs whatever the volume and scan tasks
# grow with pages, so 40 tickets keep a cold round near half a minute on four
# cores. Four ticket pages against a budget of 3 make the scan governor
# sleep; the reference's 30 : 200 ratio (config/services.php:41,47) becomes
# 3 : 20 per half second so that both governors sleep within one round.
SIZE = {"tickets": 40, "customers": 50}
BUDGET = {"groove": 3, "helpscout": 20, "window_s": 0.5}
WORKLOADS = ["migrate_throttled", "catalog_mix"]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str, trace: bool) -> None:
    """Session settings the benchmark owns; everything else is session.py's."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # executor-side Python workers import the package and the benchmark modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    submit = [f"--driver-java-options '-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData'",
              "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{event_dir}",
                   "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f} s  {msg}", file=sys.stderr)


def _median(values: list[float]) -> float:
    return float(statistics.median(values))


def _peak_rss_mb(spark) -> float:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (the JVM, its
    Python workers, the API server), with the children each has reaped.

    Time the host takes from the VM (steal) is not in it, so on a shared
    host it moves less than the wall does."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _host_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the VM so far."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return cpu[7], sum(cpu[:8])


def _stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it.

    ``spark.stop()`` leaves the gateway process up; on its own it exits
    only some time after this process does, when it reads EOF on stdin.
    """
    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Bench:
    """One run: the session, the inputs, the checks and what they found."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.spark = None
        self.inputs: dict = {}
        self.close_inputs = None
        self.setup_walls: dict[str, list[float]] = {}
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.round_cpu: list[float] = []
        self.layer: dict[str, float] = {}
        self.tracer = None
        self.traced_root = None
        self.per_layer = None  # events -> None, fills self.layer

    def setup(self, make_inputs, close_inputs) -> dict:
        """Session + inputs, SETUPS times; the last set-up is kept."""
        from groove_to_helpscout_migration_tool_spark.session import get_session

        self.close_inputs = close_inputs
        for _ in range(SETUPS):
            self.close()
            t0 = time.perf_counter()
            self.spark = get_session(app_name="perfbench")
            t1 = time.perf_counter()
            self.inputs = make_inputs(self.spark)
            t2 = time.perf_counter()
            for k, v in self.inputs.pop("_walls").items():
                self.setup_walls.setdefault(k, []).append(v)
            self.setup_walls.setdefault("setup.session_s", []).append(t1 - t0)
            self.setup_walls.setdefault("setup_s", []).append(t2 - t0)
        _log("set-up done")
        return self.inputs

    def timed(self, one_round) -> list:
        """Rounds until --seconds have passed, at least one."""
        out, t0 = [], time.perf_counter()
        while not out or time.perf_counter() - t0 < self.args.seconds:
            c0, h0, w0 = _tree_cpu_s(), _host_ticks(), time.perf_counter()
            out.append(one_round())
            c1, h1, w1 = _tree_cpu_s(), _host_ticks(), time.perf_counter()
            self.round_cpu.append(c1 - c0)
            steal = (h1[0] - h0[0]) / max(1, h1[1] - h0[1])
            _log(f"timed round done: wall {w1 - w0:.2f} s, cpu {c1 - c0:.2f} s, "
                 f"host steal share {steal:.3f}")
        return out

    def close(self) -> None:
        if self.inputs and self.close_inputs is not None:
            self.close_inputs(self.inputs)
        self.inputs = {}
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def run_migrate(bench: Bench, trace_mod) -> list[float]:
    import corpus as corpus_mod
    import migrate

    def make_inputs(spark):
        t0 = time.perf_counter()
        c = corpus_mod.build(bench.args.seed, **SIZE)
        t1 = time.perf_counter()
        api = migrate.ApiProcess(bench.args.seed, SIZE, _nproc())
        t2 = time.perf_counter()
        return {"corpus": c, "api": api,
                "_walls": {"setup.corpus_s": t1 - t0, "setup.server_s": t2 - t1}}

    inputs = bench.setup(make_inputs, lambda i: i["api"].close())
    c, api, spark = inputs["corpus"], inputs["api"], bench.spark
    off = trace_mod.Tracer(spark.sparkContext, "untraced", False)

    def one_round(tracer=off, checkpoint=False) -> dict:
        api.reset()
        rnd = migrate.run_round(spark, api.base, BUDGET, tracer, checkpoint)
        rnd["stats"] = api.stats()
        return rnd

    rounds = bench.timed(one_round)
    traced = None
    if bench.args.trace:
        bench.tracer = trace_mod.Tracer(spark.sparkContext, "traced", True)
        traced = one_round(tracer=bench.tracer, checkpoint=True)
    # the in-process reference runs last, so that it warms none of the timed plans
    ref = migrate.reference(spark, c)
    for rnd in rounds + ([traced] if traced else []):
        problems = migrate.check_round(rnd, rnd["stats"], c, ref, BUDGET)
        bench.attempted += c.expected_conversations
        bench.failed += migrate.missed_tickets(rnd["stats"], c) + (1 if problems else 0)
        bench.problems += problems

    def receipts(rnd) -> dict:
        return rnd["stats"]["receipts"]["conversations"]

    walls = [receipts(r)["last_accepted"] - r["t_start"] for r in rounds]
    if not bench.args.trace:
        return walls
    counters = [migrate.server_counters(r["stats"], BUDGET) for r in rounds]
    layer = {k: _median([cr[k] for cr in counters]) for k in counters[0]}
    layer["migrate.tickets_per_min"] = _median(
        [receipts(r)["distinct"] / (receipts(r)["last_accepted"] - r["t_tickets"]) * 60
         for r in rounds])
    bench.traced_root = traced["root"]
    tracer = bench.tracer

    def per_layer(events) -> None:
        by_name: dict[str, float] = {}
        for s in tracer.spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + tracer.self_time(s)
        for name in ("sources.probe", "sources.acquire", "sources.publish",
                     "plans.customers", "plans.tickets"):
            layer[f"{name}_s"] = by_name.get(name, 0.0)
        plan = next(s for s in tracer.spans if s.name == "plans.tickets")
        g = events.for_spans(tracer.subtree(plan))
        layer.update({
            "plans.tickets.jobs": g.jobs, "plans.tickets.stages": g.stages,
            "plans.tickets.tasks": g.tasks, "plans.tickets.shuffle_bytes": g.shuffle_bytes,
            "plans.tickets.executor_cpu_s": g.executor_cpu_s,
            "plans.tickets.driver_gap_s": trace_mod.driver_gap(plan, g)})

    bench.per_layer = per_layer
    bench.layer = layer
    return walls


def run_catalog(bench: Bench, trace_mod) -> list[float]:
    import catalog_mix

    def make_inputs(spark):
        t0 = time.perf_counter()
        sf_dir = catalog_mix.generate(os.path.join(bench.work, "sf"), bench.args.seed)
        return {"sf_dir": sf_dir,
                "_walls": {"setup.corpus_s": time.perf_counter() - t0}}

    inputs = bench.setup(make_inputs, lambda i: None)
    spark, sf_dir = bench.spark, inputs["sf_dir"]
    plans: dict[str, str] = {}
    done: list[dict] = []
    roots: list = []

    def one_round(tracer=None) -> dict:
        tracer = tracer or trace_mod.Tracer(spark.sparkContext, f"r{len(done)}", False)
        with tracer.span("catalog") as root:
            res = catalog_mix.run_round(spark, sf_dir, tracer, None if done else plans)
        done.append(res)
        roots.append(root)
        return res

    rounds = bench.timed(one_round)
    if bench.args.trace:
        # the traced round is also each query's second call in the process
        bench.tracer = trace_mod.Tracer(spark.sparkContext, "traced", True)
        one_round(bench.tracer)
    # certify every output against its DuckDB oracle, outside the timed rounds
    first = done[0]
    types = {n: r["types"] for n, r in first.items() if r["types"] is not None}
    expected = catalog_mix.oracle_folds(spark, sf_dir, types)
    for name in catalog_mix.column_less_scans(plans):
        bench.failed += 1
        bench.problems.append(f"{name}: the timed plan holds a column-less scan")
    for res in done:
        for name, r in res.items():
            bench.attempted += 1
            problem = r["error"] or (
                None if r["fold"] == expected.get(name)
                else f"fold {r['fold']} != oracle {expected.get(name)}")
            if r["jobs"] != first[name]["jobs"]:
                problem = problem or f"{r['jobs']} jobs, its first call ran {first[name]['jobs']}"
            if problem:
                bench.failed += 1
                bench.problems.append(f"{name}: {problem}")

    walls = [sum(r["wall_s"] for r in res.values()) for res in rounds]
    if not bench.args.trace:
        return walls
    layer = {f"catalog.{g}_s": _median([sum(res[n]["wall_s"] for n in names) for res in rounds])
             for g, names in catalog_mix.GROUPS.items()}
    layer.update({f"catalog.{n}.wall_s": _median([res[n]["wall_s"] for res in rounds])
                  for n in catalog_mix.QUERIES})
    root = roots[-1]
    bench.traced_root = root
    tracer = bench.tracer

    def per_layer(events) -> None:
        for s in tracer.children(root):
            g = events.for_spans(tracer.subtree(s))
            layer[f"{s.name}.tasks"] = g.tasks
            layer[f"{s.name}.shuffle_bytes"] = g.shuffle_bytes
            layer[f"{s.name}.driver_gap_s"] = trace_mod.driver_gap(s, g)

    bench.per_layer = per_layer
    bench.layer = layer
    return walls


def _trace_metrics(bench: Bench, trace_mod) -> dict:
    """Stop the session, read its event log -> the per-layer metrics."""
    peak = _peak_rss_mb(bench.spark)
    bench.close()
    events = trace_mod.EventLog(os.path.join(bench.work, "events"))
    bench.per_layer(events)
    layer, root, tracer = bench.layer, bench.traced_root, bench.tracer
    g = events.for_spans(tracer.subtree(root))
    layer.update({
        "session.jobs": g.jobs, "session.stages": g.stages, "session.tasks": g.tasks,
        "session.tasks_per_stage_p50": trace_mod.p50(g.tasks_per_stage),
        "session.gc_s": g.gc_s, "session.spill_bytes": g.spill_bytes,
        "session.peak_rss_mb": peak,
        "trace.overhead_pct": 100.0 * tracer.own_s / root.wall})
    for k, walls in bench.setup_walls.items():
        if k != "setup_s":
            layer[k] = _median(walls)
    selfs = sum(tracer.self_time(s) for s in tracer.subtree(root))
    if abs(selfs - root.wall) > 1e-6 * max(1.0, root.wall):
        bench.problems.append(f"span self-times sum to {selfs}, root wall {root.wall}")
    tracer.write(os.path.join(os.path.dirname(bench.work), "spans.jsonl"))
    return layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import groove_to_helpscout_migration_tool_spark as pkg
    except ImportError:
        pkg = None
    if pkg is None or not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package is not in the checkout at {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    _prepare_env(work, bool(args.trace))
    import spans as trace_mod

    bench = Bench(args, work)
    try:
        runner = run_catalog if args.workload == "catalog_mix" else run_migrate
        walls = runner(bench, trace_mod)
        _log("outputs checked")
        e2e = {"cpu_s": _median(bench.round_cpu),
               "setup_s": _median(bench.setup_walls["setup_s"])}
        if args.trace:
            values, listed = _trace_metrics(bench, trace_mod), spec["per_layer"]
            values["round.wall_s"] = _median(walls)
        else:
            values, listed = e2e, spec["end_to_end"]
        names = {m["name"] for m in listed}
        bench.problems += [f"metric {k} is not listed in BENCHMARK.json"
                           for k in values if k not in names]
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in listed}
    finally:
        bench.close()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    _log("session stopped")
    for p in bench.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = not bench.problems
    print(json.dumps({"correct": correct, "attempted": max(1, bench.attempted),
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
