"""The sweep's changed-query set: tools/certage.py's code digest, the
CERTDIGEST.json ledger it writes, and how the catalog's sweep order
reads that ledger. No Spark, no git."""

from __future__ import annotations

import importlib
import json

import pytest

from groove_to_helpscout_migration_tool_spark import catalog

certage = importlib.import_module("tools.certage")

SYNTH = {
    "__init__.py": "",
    "registry.py": 'def register(name, oracle=None, doc=""):\n    return lambda fn: fn\n',
    "helpers.py": (
        "CAP = 5\n\n\n"
        "def helper(x):\n    return x + CAP\n\n\n"
        "def local_helper():\n    return 7\n"
    ),
    "queries.py": '''"""Two synthetic queries sharing one helper."""
from .helpers import helper
from .registry import register


@register("q_one", oracle="SELECT 1", doc="first")
def q_one(spark, sf_dir):
    """Docstring."""
    # a comment
    from .helpers import local_helper

    return helper(1) + local_helper()


@register("q_two", oracle="SELECT 2")
def q_two(spark, sf_dir):
    return helper(2)
''',
}


def _synth_digests(root, edit=None):
    for rel, text in SYNTH.items():
        path = root / "synth" / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text.replace(*edit) if edit else text)
    return {q: certage.digest(str(root), "synth.queries", q) for q in ("q_one", "q_two")}


@pytest.mark.parametrize(
    "old, new, changed",
    [
        ('"""Docstring."""', '"""Reworded."""', set()),
        ("# a comment", "# reworded", set()),
        ('doc="first"', 'doc="reworded"', set()),
        ("helper(1) +", "helper(3) +", {"q_one"}),
        ('oracle="SELECT 1"', 'oracle="SELECT 10"', {"q_one"}),
        ("x + CAP", "x - CAP", {"q_one", "q_two"}),
        ("return 7", "return 8", {"q_one"}),  # reached by a function-local import
        ("CAP = 5", "CAP = 6", {"q_one", "q_two"}),
    ],
)
def test_digest_follows_code_not_prose(tmp_path, old, new, changed):
    assert sum(text.count(old) for text in SYNTH.values()) == 1
    base = _synth_digests(tmp_path / "base")
    edited = _synth_digests(tmp_path / "edited", (old, new))
    assert {q for q in base if base[q] != edited[q]} == changed


def test_digest_ledger_is_fresh():
    """CERTDIGEST.json holds this checkout's digests and each query's
    newest official round: rerun tools/certage.py after editing a query
    or committing a CORRECTNESS_r*.json."""
    with open(catalog._LEDGER) as fh:
        ledger = json.load(fh)
    _, _, last_round = catalog._official_status()
    assert {n: e["head"] for n, e in ledger.items()} == certage.digests()
    assert {n: e["round"] for n, e in ledger.items()} == {
        n: last_round.get(n, 0) for n in catalog.QUERIES
    }


def test_missing_or_stale_ledger_entry_counts_as_changed():
    ledger = catalog._read_ledger()
    keys = catalog._sweep_keys(ledger)
    missing, stale = [n for n, k in keys.items() if k[0] > 2][:2]
    ledger = {n: dict(e) for n, e in ledger.items() if n != missing}
    ledger[stale]["round"] -= 1
    keys = catalog._sweep_keys(ledger)
    assert (keys[missing][0], keys[stale][0]) == (2, 2)
    assert {k[0] for k in catalog._sweep_keys({}).values()} <= {0, 1, 2}
