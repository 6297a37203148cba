"""The tools' shared profiler (tools/eventlog.py) and census plan reader.

The parser tests write an event log by hand and need no JVM; the fold
test runs on the session fixture and pins why the fold explains its own
frame: an action such as ``count()`` runs a QueryExecution of its own
and leaves the frame's plan unexecuted.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import census  # noqa: E402
import eventlog  # noqa: E402


def _job(job_id, group, stage_ids):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stage_ids, "Properties": {"spark.jobGroup.id": group}}


def _submit(stage_id, attempt, group):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": attempt},
            "Properties": {"spark.jobGroup.id": group}}


def _task(stage_id, attempt, records, written=0, cpu_ns=0, gc_ms=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Stage Attempt ID": attempt,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill,
                "Shuffle Read Metrics": {"Total Records Read": records},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def _parse(tmp_path, events, tail=""):
    path = tmp_path / "local-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events) + tail)
    return eventlog.parse(str(path))


def test_tasks_follow_their_attempts_group(tmp_path):
    groups = _parse(tmp_path, [
        _job(0, "a", [0, 1]),
        _submit(0, 0, "a"),
        _task(0, 0, 0, written=100, cpu_ns=2_000_000_000, gc_ms=5, spill=7),
        _submit(1, 0, "a"),
        _task(1, 0, 5),
        # group b starts while a's stage 1 still has tasks running
        _job(1, "b", [2]),
        _submit(2, 0, "b"),
        _task(1, 0, 3),
        _task(2, 0, 4),
        _task(1, 0, 9),
    ])
    a, b = groups["a"], groups["b"]
    assert [(s.stage_id, s.records) for s in a.stages] == [(0, [0]), (1, [5, 3, 9])]
    assert [(s.stage_id, s.records) for s in b.stages] == [(2, [4])]
    assert (a.jobs, a.tasks, a.shuffle_records, a.skipped) == (1, 4, 17, 0)
    assert (a.shuffle_bytes, a.cpu_s, a.gc_s, a.spill_bytes) == (100, 2.0, 0.005, 14)
    assert (b.shuffle_bytes, b.cpu_s, b.gc_s, b.spill_bytes) == (0, 0.0, 0.0, 0)


def test_listed_but_unsubmitted_stages_are_skipped(tmp_path):
    groups = _parse(tmp_path, [
        _job(0, "a", [0, 1]),
        _submit(0, 0, "a"),
        _task(0, 0, 0),
        _submit(1, 0, "a"),
        _task(1, 0, 2),
        # job 1 lists a's stage 0 again (its shuffle output exists) and
        # stage 3, which no attempt ever runs
        _job(1, "b", [0, 3, 4]),
        _submit(4, 0, "b"),
        _task(4, 0, 6),
    ])
    b = groups["b"]
    assert b.skipped == 2
    assert [s.stage_id for s in b.stages] == [4]
    assert b.tasks == 1
    assert groups["a"].skipped == 0


def test_retry_is_its_own_stage_and_a_cut_line_is_ignored(tmp_path):
    groups = _parse(tmp_path, [
        _job(0, "b", [2]),
        _submit(2, 0, "b"),
        _task(2, 0, 4),
        _submit(2, 1, "b"),
        _task(2, 1, 6),
        _task(2, 1, 1),
    ], tail='{"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Stage Att')
    b = groups["b"]
    assert [(s.stage_id, s.records) for s in b.stages] == [(2, [4]), (2, [6, 1])]
    assert (b.tasks, b.skipped) == (3, 0)


def test_fold_explains_the_plan_that_ran(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/nation.parquet").groupBy("n_regionkey").count()
    rows, plan = eventlog.fold(df)
    assert rows == 5
    assert census.is_final(plan)
    # one scan, the groupBy's exchange; the fold's own exchange is not counted
    assert census.plan_counts(plan) == {"scans": 1, "exch": 1, "reuse": 0, "imts": 0}

    df.count()
    after = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert after.startswith("== Physical Plan ==\nAdaptiveSparkPlan")
    assert not census.is_final(after)
