"""Evidence-pipeline tool contracts: the scale-evidence merge must not
admit rows-only (no-oracle) minidriver rows as hash-certified, and the
bench warm-runs knob must fail soft on malformed input instead of
aborting a multi-hour run at import."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_split_rows_only_partitions_no_oracle_rows():
    from merge_scale_evidence import _split_rows_only

    cert = {
        "q_hashed": {"rows_match": True, "schema_match": True,
                     "hash_match": True, "err": None},
        "q_weak": {"rows_match": True, "spark_rows": 5, "err": "no_oracle"},
        "q_red": {"rows_match": False, "hash_match": False, "err": None},
    }
    hashed, rows_only = _split_rows_only(cert)
    assert set(hashed) == {"q_hashed", "q_red"}
    assert set(rows_only) == {"q_weak"}


def test_extend_keeps_rows_only_out_of_certification(tmp_path):
    """--extend with a no_oracle row must route it to sf1_rows_only --
    sf1_certification.queries is asserted hash_match=True row-for-row
    by test_scale_records, so a rows-only row there would turn the
    suite red while the tool exits 0 (the r9 review finding)."""
    art = tmp_path / "scale.json"
    art.write_text(json.dumps({
        "probes": {}, "violations": [],
        "decade2": {"small_sf_dir": "a", "large_sf_dir": "b",
                    "data_ratio": 10.0, "linear_bound": 30.0,
                    "probes": {}, "violations": []},
        "sf1_certification": {"queries": {}},
    }))
    cert = tmp_path / "cert.json"
    cert.write_text(json.dumps({
        "q_ok": {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None},
        "q_weak": {"rows_match": True, "spark_rows": 5, "err": "no_oracle"},
    }))
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "merge_scale_evidence.py"),
         "--extend", str(art), "-", str(cert)],
        check=True, capture_output=True,
    )
    out = json.loads(art.read_text())
    assert set(out["sf1_certification"]["queries"]) == {"q_ok"}
    assert set(out["sf1_rows_only"]) == {"q_weak"}
    assert out["sf1_red_rows"] == []


def test_bench_warm_runs_parse_fails_soft(monkeypatch):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_WARM_RUNS", "not-a-number")
    assert bench._warm_runs() == 4
    monkeypatch.setenv("SPARK_GRAFT_WARM_RUNS", " 3 ")
    assert bench._warm_runs() == 3
    monkeypatch.setenv("SPARK_GRAFT_WARM_RUNS", "1")
    assert bench._warm_runs() == 2  # spread metric needs two samples


def test_bench_compare_calib_ref_mirrors_bench():
    # bench_compare stays stdlib-only (no pyspark import just to read a
    # constant), so it mirrors CALIB_REF as a literal -- this pin keeps
    # the mirror honest when the reference anchor is re-stamped.
    import bench
    import bench_compare

    assert bench_compare.CALIB_REF == bench.CALIB_REF


def test_bench_compare_accepts_detail_shaped_calib():
    # ADVICE r11: BENCH_DETAIL*.json stamps calib as the full
    # {pre, post, median, ref} dict; the bare float() raised TypeError.
    import bench_compare

    assert bench_compare._calib_of(
        {"calib": {"pre": 1.1, "post": 1.3, "median": 1.2, "ref": 0.99}},
        "detail.json",
    ) == 1.2
    assert bench_compare._calib_of({"calib": 1.05}, "compact.json") == 1.05
    assert bench_compare._calib_of({}, "none.json") == 1.0
    try:
        bench_compare._calib_of({"calib": "garbage"}, "bad.json")
    except SystemExit as e:
        assert "bad.json" in str(e)
    else:
        raise AssertionError("junk calib must raise a clear SystemExit")


def test_bench_compare_rounds_totals_are_in_value_norm_units(tmp_path):
    # the --rounds totals must match the committed value_norm convention
    # (wall * CALIB_REF / calib), so a round's stamped value_norm and the
    # compare's total for the same artifact agree (ADVICE r11: the 0.99
    # factor was missing; ratios were right, absolute totals were not).
    import bench_compare

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps(
        {"sha": "a", "calib": 1.1, "queries": {"q1": 11.0, "q2": 11.0}}))
    new.write_text(json.dumps(
        {"sha": "b", "calib": 0.99, "queries": {"q1": 10.0, "q2": 10.0}}))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_compare.py"),
         "--rounds", str(old), str(new)],
        capture_output=True, text=True,
    )
    out = json.loads(proc.stdout)
    assert out["total_norm_old"] == round(22.0 * 0.99 / 1.1, 3)
    assert out["total_norm_new"] == round(20.0 * 0.99 / 0.99, 3)
    # 19.8 -> 20.0 is ~+1%: inside both triggers
    assert proc.returncode == 0, proc.stdout


def _top_level_names(path: str) -> set[str]:
    import ast

    with open(path) as fh:
        tree = ast.parse(fh.read())
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def test_every_tool_compiles_and_its_imports_resolve():
    """Only a few tools run under Tier-1, so compile every tools/*.py and
    resolve, without running anything, each module it imports and each
    name it imports from a sibling tool or the repo-root ``bench``: a
    tool still importing a deleted tool or helper fails here instead of
    mid-run."""
    import ast
    import glob
    import importlib.util
    import py_compile

    paths = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    tools = {os.path.basename(p)[:-3]: p for p in paths}
    tools["bench"] = os.path.join(REPO, "bench.py")
    problems = []
    for path in paths:
        py_compile.compile(path, doraise=True)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                wanted = [(a.name, []) for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                wanted = [(node.module, [a.name for a in node.names])]
            else:
                continue
            for module, names in wanted:
                if module in tools:
                    missing = set(names) - _top_level_names(tools[module])
                    problems += [f"{path}: {module}.{n}" for n in sorted(missing)]
                elif importlib.util.find_spec(module) is None:
                    problems.append(f"{path}: {module}")
    assert problems == []


def test_no_tool_puts_a_fixed_absolute_path_on_sys_path():
    """A tool imports the package of its own checkout: a literal absolute
    path put on ``sys.path`` would make a copy of the tools, run from
    another checkout, import and audit the first checkout's code."""
    import ast
    import glob

    problems = []
    for path in sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
            ):
                continue
            for arg in node.args:
                for const in ast.walk(arg):
                    if isinstance(const, ast.Constant) and isinstance(const.value, str) \
                            and os.path.isabs(const.value):
                        problems.append(f"{os.path.basename(path)}:{node.lineno}: {const.value}")
    assert problems == []


def test_no_tool_names_a_fixed_checkout():
    """A tool's or test's inputs and outputs inside the repo derive from its
    own file: an absolute path literal would make a copy, run from another
    checkout, read or overwrite the first checkout's files. Code,
    docstrings and comments are all scanned; the only absolute paths
    allowed are the shared, read-only test data (tests name fixture URL
    paths, so they are scanned only for paths beside the test data)."""
    import glob
    import re

    from conftest import SF_SMOKE

    data_root = os.path.dirname(SF_SMOKE) + os.sep
    home = os.path.dirname(os.path.dirname(SF_SMOKE)) + os.sep
    heads = {"tools": r"(?<![\w.:/~\-\])])/[A-Za-z_][\w.-]*/", "tests": re.escape(home)}
    problems = []
    for folder, head in heads.items():
        for path in sorted(glob.glob(os.path.join(REPO, folder, "*.py"))):
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    for p in re.findall(head + r"[\w.*{}-]+(?:/[\w.*{}-]+)*", line):
                        if not p.startswith(data_root):
                            problems.append(f"{folder}/{os.path.basename(path)}:{lineno}: {p}")
    assert problems == []
