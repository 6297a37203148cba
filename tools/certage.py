"""Certification-age ledger: how old is each catalog query's newest
OFFICIAL green row, and has its code changed since?

The external driver certifies ~50 queries per round against a catalog
of ~180, so without explicit rotation a query's last official green can
silently age out (round 7 found 38 queries at r4 or older and the
flagship pipeline at r3). This tool makes that debt a committed,
diffable artifact instead of something a judge has to recompute:

  - writes CERTDIGEST.json (``ledger``), which the sweep order reads to
    front every query whose code changed since its newest official
    green. It reads git history: run it from a clone;
  - joins the registered catalog against the CORRECTNESS_r*.json union
    (the same parser the sweep-order machinery uses);
  - writes CERTAGE.json: per-query {last_round, age, green, sweep_pos}
    plus a summary histogram;
  - exits 1 if any query that NEEDS re-certification (never checked,
    red, or older than MAX_AGE rounds) sits OUTSIDE the front-BUDGET
    sweep positions -- i.e. the rotation mechanism in
    catalog/__init__._apply_sweep_order cannot retire the debt this
    round. tests/test_catalog.py::
    test_certification_debt_is_retirable_this_round asserts the same
    bound (via compute() below), so the debt cannot re-accumulate
    unnoticed.

Usage: python tools/certage.py [out_json]
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import importlib.util
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MAX_AGE = 4    # a green older than this many rounds must be fronted
BUDGET = 50    # the official sweep's approximate per-round row budget
PKG = "groove_to_helpscout_migration_tool_spark"


def _path(root: str, mod: str) -> str | None:
    base = os.path.join(root, *mod.split("."))
    return next((p for p in (base + ".py", os.path.join(base, "__init__.py")) if os.path.exists(p)), None)


def _imports(stmt: ast.AST, package: str) -> dict:
    """Names an import binds -> ('mod', module) or ('sym', module, name)."""
    if isinstance(stmt, ast.Import):
        return {a.asname or a.name: ("mod", a.name) for a in stmt.names}
    if not isinstance(stmt, ast.ImportFrom):
        return {}
    base = importlib.util.resolve_name("." * stmt.level + (stmt.module or ""), package)
    return {a.asname or a.name: ("sym", base, a.name) for a in stmt.names}


@functools.cache
def _bindings(root: str, mod: str) -> tuple[dict, str]:
    """(top-level name -> defining statements or import binding, the
    package relative imports start from) of module ``mod`` under
    ``root``. Docstrings and a registration's ``doc=`` are dropped;
    comments never reach the AST."""
    path = _path(root, mod)
    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and ast.unparse(node.func).endswith("register"):
            node.keywords = [k for k in node.keywords if k.arg != "doc"]
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) \
                and ast.get_docstring(node, clean=False) is not None:
            node.body = node.body[1:] or [ast.Pass()]
    package = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
    out: dict = {}
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[stmt.name] = [stmt]
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            for target in getattr(stmt, "targets", [getattr(stmt, "target", None)]):
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        out[n.id] = (out[n.id] if isinstance(out.get(n.id), list) else []) + [stmt]
        else:
            out.update(_imports(stmt, package))
    return out, package


def _lookup(root: str, binding) -> tuple | None:
    """Follow an import binding to ('mod', module) or to the (module,
    name) defining it; None once it leaves the tree at ``root``."""
    while isinstance(binding, tuple):
        if binding[0] == "mod":
            return binding
        _, base, attr = binding
        if _path(root, f"{base}.{attr}"):
            return ("mod", f"{base}.{attr}")
        if not _path(root, base):
            return None
        binding = _bindings(root, base)[0].get(attr)
        if isinstance(binding, list):
            return (base, attr)
    return None


@functools.cache
def _symbol(root: str, mod: str, name: str) -> tuple[str, list]:
    """(AST dump, definitions it names) of one top-level definition."""
    top, package = _bindings(root, mod)
    walked = [n for node in top[name] for n in ast.walk(node)]
    scope = dict(top)
    for n in walked:  # function-local imports shadow the module's names
        scope.update(_imports(n, package))

    def resolve(expr):
        if isinstance(expr, ast.Name):
            b = scope.get(expr.id)
            return (mod, expr.id) if isinstance(b, list) else _lookup(root, b)
        base = resolve(expr.value) if isinstance(expr, ast.Attribute) else None
        return _lookup(root, ("sym", base[1], expr.attr)) if base and base[0] == "mod" else None

    refs = {resolve(n) for n in walked
            if isinstance(n, ast.Attribute) or isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
    return "\n".join(map(ast.dump, top[name])), [r for r in refs if r and r[0] != "mod"]


def digest(root: str, mod: str, name: str) -> str:
    """Digest of top-level function ``mod.name`` in the tree at ``root``:
    the AST of it, its registration (oracle SQL included) and every
    definition of the tree it reaches by name, transitively (module
    constants and function-local imports included). Docstrings,
    comments, ``doc=`` and module names are left out: a definition
    moved unchanged between modules digests the same."""
    seen, todo = {}, [(mod, name)]
    while todo:
        key = todo.pop()
        if key not in seen:
            seen[key], refs = _symbol(root, *key)
            todo += refs
    return hashlib.sha256("".join(sorted(seen.values())).encode()).hexdigest()[:16]


def digests(root: str = ROOT) -> dict[str, str]:
    """query name -> digest of every function the catalog under ``root``
    registers, read from source: nothing is imported."""
    out = {}
    for path in sorted(glob.glob(os.path.join(root, PKG, "catalog", "[!_]*.py"))):
        mod = f"{PKG}.catalog.{os.path.basename(path)[:-3]}"
        for name, nodes in _bindings(root, mod)[0].items():
            for d in getattr(nodes[0], "decorator_list", []) if isinstance(nodes, list) else []:
                if isinstance(d, ast.Call) and ast.unparse(d.func) == "register":
                    out[ast.literal_eval(d.args[0])] = digest(root, mod, name)
    return out


def ledger() -> dict[str, dict]:
    """name -> {round, green, head}: newest official round, digest at
    the commit that round's sweep ran on (the parent of the commit that
    added its CORRECTNESS file; None if absent there), digest here."""
    from groove_to_helpscout_migration_tool_spark import catalog

    _, _, last_round = catalog._official_status()
    green = {}
    with tempfile.TemporaryDirectory() as tmp:
        for rnd in sorted({last_round.get(n, 0) for n in catalog.QUERIES} - {0}):
            swept = subprocess.run(
                ["git", "log", "--diff-filter=A", "--format=%P", "--", f"CORRECTNESS_r{rnd:02d}.json"],
                cwd=ROOT, capture_output=True, text=True, check=True).stdout.splitlines()[-1].split()[0]
            os.mkdir(tree := os.path.join(tmp, str(rnd)))
            subprocess.run(f"git archive {swept} {PKG} | tar -x -C {tree}", shell=True, cwd=ROOT, check=True)
            green[rnd] = digests(tree)
    head = digests()
    return {n: {"round": last_round.get(n, 0), "green": green.get(last_round.get(n, 0), {}).get(n),
                "head": head.get(n)} for n in sorted(catalog.QUERIES)}


def compute() -> dict:
    from groove_to_helpscout_migration_tool_spark import catalog

    checked, green, last_round = catalog._official_status()
    newest = max(last_round.values(), default=0)
    order = list(catalog.QUERIES)
    report: dict[str, dict] = {}
    for pos, name in enumerate(order):
        lr = last_round.get(name, 0)
        report[name] = {
            "last_round": lr,
            "age": (newest - lr) if name in checked else None,
            "green": name in green,
            "sweep_pos": pos,
        }
    overdue = [
        n
        for n, r in report.items()
        if r["age"] is None or not r["green"] or r["age"] >= MAX_AGE
    ]
    unreachable = sorted(
        (n for n in overdue if report[n]["sweep_pos"] >= BUDGET),
        key=lambda n: report[n]["sweep_pos"],
    )
    hist: dict[str, int] = {}
    for r in report.values():
        key = "never" if r["age"] is None else f"age_{r['age']}"
        hist[key] = hist.get(key, 0) + 1
    return {
        "newest_round": newest,
        "n_queries": len(order),
        "max_age": MAX_AGE,
        "budget": BUDGET,
        "age_histogram": dict(sorted(hist.items())),
        "n_overdue": len(overdue),
        "overdue_beyond_budget": unreachable,
        "queries": report,
    }


def main() -> None:
    from groove_to_helpscout_migration_tool_spark import catalog

    with open(catalog._LEDGER, "w") as fh:
        json.dump(ledger(), fh, indent=1)
        fh.write("\n")
    catalog._apply_sweep_order()  # re-rank under the ledger just written
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "CERTAGE.json")
    result = compute()
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=False)
        fh.write("\n")
    summary = {k: v for k, v in result.items() if k != "queries"}
    print(json.dumps(summary))
    sys.exit(1 if result["overdue_beyond_budget"] else 0)


if __name__ == "__main__":
    main()
