"""The tools' one profiler: an event-logged session, one pass over its
event log, and one full-output action. Counts, not walls: on a shared
host walls swing, while rows, jobs and shuffle records repeat; which
stages are skipped (and so stage ids and a few tasks) can move with timing.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from urllib.parse import urlparse


@dataclass
class Stage:
    """One executed stage attempt and each of its tasks' shuffle-read
    records, in the order the log ends the tasks."""

    stage_id: int
    records: list[int] = field(default_factory=list)


@dataclass
class Group:
    """One job group: its executed stage attempts in submission order,
    the stage ids its jobs listed, and sums over its tasks."""

    jobs: int = 0
    stages: list[Stage] = field(default_factory=list)
    listed: set[int] = field(default_factory=set)
    shuffle_bytes: int = 0  # written
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0

    @property
    def skipped(self) -> int:
        """Stages listed but never submitted: their output already existed."""
        return len(self.listed - {s.stage_id for s in self.stages})

    @property
    def tasks(self) -> int:
        return sum(len(s.records) for s in self.stages)

    @property
    def shuffle_records(self) -> int:
        return sum(sum(s.records) for s in self.stages)


def session(app_name: str, sql: dict[str, str]):
    """``get_session`` on ``local[$SPARK_GRAFT_CPUS]`` (8 when unset) with
    event logging on and ``sql`` set -> (session, its event-log file,
    complete once ``spark.stop()`` returns). The eventLog confs go in
    through ``PYSPARK_SUBMIT_ARGS`` and last as long as the JVM: a later
    session logs a new file to the same directory. The JIT runs at the
    JDK defaults, as in ``bench.py`` and the tools' own earlier
    sessions: they time warm repeats (``session.py`` scale notes)."""
    from pyspark import SparkContext

    from groove_to_helpscout_migration_tool_spark import get_session

    if SparkContext._gateway is None:  # the JVM is not up yet
        event_dir = tempfile.mkdtemp(prefix=f"{app_name}_events_")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{event_dir}"
            " --conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false"
            " pyspark-shell"
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_session(app_name=app_name, master=f"local[{cpus}]", jit_policy=False)
    conf = spark.sparkContext.getConf()
    if conf.get("spark.eventLog.enabled") != "true":
        raise RuntimeError("this JVM was launched without event logging")
    for key, value in sql.items():
        spark.conf.set(key, value)
    log_dir = urlparse(conf.get("spark.eventLog.dir")).path
    return spark, os.path.join(log_dir, spark.sparkContext.applicationId)


def parse(path: str) -> dict[str, Group]:
    """One pass over an event-log file -> {job group: Group}. A stage
    attempt belongs to the group in its own StageSubmitted properties: a
    JobStart also lists stages it then skips, and a retry must not merge
    with the first attempt. A line cut short when the log closed is ignored."""
    groups: dict[str, Group] = {}
    attempts: dict[tuple[int, int], tuple[Group, Stage]] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            if kind == "SparkListenerJobStart":
                g = groups.setdefault(group, Group())
                g.jobs += 1
                g.listed.update(ev["Stage IDs"])
            elif kind == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                g = groups.setdefault(group, Group())
                g.stages.append(Stage(si["Stage ID"]))
                attempts[(si["Stage ID"], si["Stage Attempt ID"])] = (g, g.stages[-1])
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                m = ev.get("Task Metrics")
                if key not in attempts or m is None:
                    continue
                g, stage = attempts[key]
                stage.records.append(m["Shuffle Read Metrics"]["Total Records Read"])
                g.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                g.cpu_s += m["Executor CPU Time"] / 1e9
                g.gc_s += m["JVM GC Time"] / 1000.0
                g.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return groups


def fold_frame(df):
    """The one-row aggregate over ``df`` that reads every column of every
    output row: a row count and a sum of per-row ``xxhash64``. ``count()``
    would let Catalyst prune columns and whole operators."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)),
        # mod keeps the ANSI-mode sum far from int64 overflow
        F.sum(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])) % F.lit(1_000_000_007)),
    )


def fold(df) -> tuple[int, str]:
    """Collect ``fold_frame(df)`` -> (row count, the formatted plan of the
    fold that ran, ``isFinalPlan=true``). Explain this frame, not ``df``:
    an action runs a QueryExecution of its own and leaves ``df``'s plan
    unexecuted."""
    out = fold_frame(df)
    rows = out.collect()[0][0]
    return rows, out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
