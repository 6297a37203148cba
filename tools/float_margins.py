"""Cross-engine rounding-margin audit over the catalog's rounded doubles.

The hazard this measures (the class the sf1 widening caught twice, in
``llm_importance_weights_dsir`` and ``llm_dataset_card``): for scale
d > 0, a decimal rounding boundary ``(k + 0.5) / 10^d`` is never
exactly representable as a double, so the two engines DECIDE the last
digit by different procedures -- Spark rounds the exact decimal
expansion of the double (BigDecimal HALF_UP), DuckDB scales by 10^d in
floating point (one extra ulp of error) and nearbyints. When the true
value lies within ~an ulp of a boundary, the procedures can land on
opposite sides and the value hash splits, even though both engines hold
bit-identical input. Integer ratios mint such near-boundary values
whenever the denominator's 2-adic structure fits the scale (e.g.
``round(a/128, 6)`` boundaries for every odd ``a``). Scale-0 rounds are
EXEMPT: their ties are dyadic (k + 0.5 is exact), and HALF_UP ==
round-half-away-from-zero on exact ties, so both engines agree --
which is why only 2-arg round(X, d) sites are audited.

Expressions built from +,-,*,/,sqrt over identical inputs are
bit-identical cross-engine (IEEE exact-rounded), so for them a margin
comfortably above the ulp window PROVES the rounded digit agrees.
ln/exp/pow are not exact-rounded; queries listed in TRANSCENDENTAL
must clear a wider relative band (the catalog's only such site is
llm_tfidf_top_terms' ln()).

Mechanics: for every catalog oracle, the 2-arg ``round(X, d)`` sites in
the final top-level select are parsed (balanced parens) and rewritten
into their scaled boundary distance::

    abs((X * 10^d) - floor(X * 10^d) - 0.5)    -- 0.5 = safest, 0 = tie

Sites are grouped by their ``AS alias`` and every member of a group is
rewritten together, so UNION ALL branches that share an output column
(the p03 profile shape) cannot mix margins with raw values. DuckDB then
aggregates min absolute and min relative margin over the exact rows the
query emits. Sites whose typeof(X) is not DOUBLE are reported but never
flagged (DECIMAL rounding is exact and engine-identical). Unaliased
sites (typically ``WHERE round(...) >= t`` verify filters, where the
hazard is row MEMBERSHIP, not a hashed value) are counted per query and
covered by the explicit probes in ``extra_probes`` -- which interpolate
the same shared oracle fragments the certification oracles use, so
probe and oracle cannot drift. CTE-buried rounds that flow to the
output unchanged are likewise covered there (tfidf; the dense-cosine
anchor family). Remaining cte_sites in the report are FORMULA
duplicates of an audited site over a different candidate population:
the CC/keep-best/pagerank prefix reuses the minhash jaccard probed
here, the quality-gate CTEs reuse llm_quality_score's audited ratio,
and the IVF/k-means variants score centroid cosines whose emitted
rows are audited wherever aliased -- each inherits the formula's
measured margin behavior rather than its own row population.

Verdict per site, on min RELATIVE margin (margin / max(|scaled|, 1)).
The engines' procedures disagree only when the true scaled value lies
within ~1-2 ulps of a boundary (DuckDB's x*10^d multiply adds <= 0.5
ulp; Spark's shortest-decimal BigDecimal path is sub-ulp), so margins
are graded in ulps of the scaled value (1 ulp ~ 2.2e-16 relative):
- FAIL  -- below ~8 ulps (1.8e-15 relative): a value inside the
  procedure-disagreement window exists in the data NOW.
- FAIL  -- TRANSCENDENTAL query below 1e-9 relative (libm drift adds
  a few ulps of its own; 1e-9 leaves ~6 orders of headroom).
- TIGHT -- below ~100 ulps (2.2e-14 relative): two orders from the
  window; worth watching, not yet a hazard.
- OK    -- everything else.
Sites whose expression aggregates with sum()/avg() get WIDER bands
(1e-12 / 1e-10 relative): float accumulation is order-dependent, so
the engines' pre-rounded values differ by ~sqrt(n) ulps (measured ~15
ulps relative on the sf1 money sums), not <= 2 -- the margin must
clear the accumulation wobble, not just the procedure window. min/max
aggregates stay on the narrow bands (order-free selections).

Usage: python tools/float_margins.py [sf_dir] [query ...]
Env: FLOATMARGIN_JSON=<path> writes the full per-site report.
Exit 1 on any FAIL/ERR. tests/test_float_margins.py runs this at
sf0.01 and asserts no FAIL, making the hazard a regression guard
instead of a thing sf1 certification discovers by luck.
"""

from __future__ import annotations

import json
import os
import re
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FAIL_REL = 1.8e-15   # ~8 ulps: inside the procedure-disagreement window
TRANS_REL = 1e-9     # transcendental band: libm may drift a few ulps
TIGHT_REL = 2.2e-14  # ~100 ulps: two orders from the window
# sum()/avg() over non-integer doubles break the bit-identical premise
# entirely: the engines accumulate in different orders, so their
# pre-round values differ by ~sqrt(n) ulps (measured ~15 ulps relative
# on the sf1 lineitem money sums), not <= 2. Margins must clear the
# accumulation-order wobble, not just the rounding-procedure window.
ORDER_FAIL_REL = 1e-12   # ~4500 ulps: inside plausible sqrt(n) wobble
ORDER_TIGHT_REL = 1e-10
_RANK = {"OK": 0, "TIGHT": 1, "FAIL": 2, "ERR": 3}

# Queries whose rounded expression passes through ln/exp/pow upstream.
TRANSCENDENTAL = {"llm_tfidf_top_terms"}


def find_round_sites(sql: str) -> list[tuple[int, int, str, str]]:
    """All 2-arg ``round(X, d)`` call sites as (start, end, X, d).

    Balanced-paren scan; ``d`` must be an integer literal. Matches bare
    ``round`` only (lookbehind kills e.g. ``height_round``). Scale-0
    single-arg round() is deliberately not matched (tie-safe, see
    module docstring).
    """
    sites = []
    for m in re.finditer(r"(?<![A-Za-z0-9_])round\s*\(", sql):
        i = m.end()
        depth = 1
        args: list[str] = []
        buf: list[str] = []
        while i < len(sql) and depth:
            ch = sql[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    args.append("".join(buf).strip())
                    break
            elif ch == "," and depth == 1:
                args.append("".join(buf).strip())
                buf = []
                i += 1
                continue
            buf.append(ch)
            i += 1
        if depth == 0 and len(args) == 2 and re.fullmatch(r"-?\d+", args[1]):
            sites.append((m.start(), i + 1, args[0], args[1]))
    return sites


def final_select_pos(sql: str) -> int:
    """Offset of the first top-level SELECT (the final select: every
    depth-0 position from here on, including UNION branches)."""
    depth = 0
    for m in re.finditer(r"[()]|\bSELECT\b", sql, re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return m.start()
    return len(sql)


def site_alias(sql: str, site) -> str | None:
    m = re.match(r"\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)", sql[site[1]:],
                 re.IGNORECASE)
    return m.group(1) if m else None


def rewrite_group(sql: str, group, payload: str) -> str:
    """Replace every site in ``group`` with the payload expression
    ('margin' | 'relmargin' | 'typeof'), other sites untouched."""
    out = []
    last = 0
    members = {s[0] for s in group}
    for site in sorted(find_round_sites(sql), key=lambda s: s[0]):
        s, e, inner, d = site
        if s not in members:
            continue
        scaled = f"(({inner}) * 1e{int(d)})"
        margin = f"abs({scaled} - floor({scaled}) - 0.5)"
        if payload == "margin":
            expr = margin
        elif payload == "relmargin":
            expr = f"({margin} / greatest(abs({scaled}), 1.0))"
        else:
            expr = f"typeof({inner})"
        out.append(sql[last:s])
        out.append(expr)
        last = e
    out.append(sql[last:])
    return "".join(out)


def audit_oracle(con, name: str, sql: str) -> dict:
    fpos = final_select_pos(sql)
    sites = find_round_sites(sql)
    rep = {"name": name, "sites": [], "cte_sites": 0,
           "unaliased_sites": 0, "verdict": "OK"}
    groups: dict[str, list] = {}
    for site in sites:
        if site[0] < fpos:
            rep["cte_sites"] += 1
            continue
        alias = site_alias(sql, site)
        if alias is None:
            rep["unaliased_sites"] += 1
            continue
        groups.setdefault(alias, []).append(site)
    for alias, group in groups.items():
        entry = {"alias": alias, "n_sites": len(group),
                 "digits": sorted({int(s[3]) for s in group}),
                 "expr": group[0][2][:100],
                 "order_dependent": any(
                     re.search(r"\b(?:sum|avg)\s*\(", s[2], re.IGNORECASE)
                     for s in group
                 )}
        try:
            tq = rewrite_group(sql, group, "typeof")
            typs = [r[0] for r in con.execute(
                f'WITH _t AS ({tq}) SELECT DISTINCT "{alias}" FROM _t'
            ).fetchall()]
            entry["typ"] = typs
            if not any(t in ("DOUBLE", "FLOAT", "REAL") for t in typs):
                entry["verdict"] = "OK"
                rep["sites"].append(entry)
                continue
            mq = rewrite_group(sql, group, "margin")
            rq = rewrite_group(sql, group, "relmargin")
            n, mn = con.execute(
                f'WITH _m AS ({mq}) SELECT count(*), min("{alias}") FROM _m'
            ).fetchone()
            rmn = con.execute(
                f'WITH _m AS ({rq}) SELECT min("{alias}") FROM _m'
            ).fetchone()[0]
            entry.update(n_rows=n, min_margin=mn, min_rel_margin=rmn)
            entry["verdict"] = classify(
                name, rmn, order_dependent=entry["order_dependent"],
                min_margin=mn,
            )
        except Exception as exc:
            entry["err"] = str(exc).split("\n")[0][:200]
            entry["verdict"] = "ERR"
        rep["sites"].append(entry)
        if _RANK[entry["verdict"]] > _RANK[rep["verdict"]]:
            rep["verdict"] = entry["verdict"]
    return rep


def classify(
    name: str, min_rel, order_dependent: bool = False, min_margin=None
) -> str:
    if min_rel is None:  # zero rows emitted
        return "OK"
    if min_margin == 0.5:
        # every value is INTEGRAL in scaled space (frac == 0 on all
        # rows): integer-valued double sums are exact and order-free
        # below 2^53, and an integral value has no tie to straddle --
        # maximally safe regardless of magnitude (relative margin would
        # otherwise mislabel big integral sums, e.g. cube quantity
        # totals, as TIGHT)
        return "OK"
    fail = ORDER_FAIL_REL if order_dependent else FAIL_REL
    tight = ORDER_TIGHT_REL if order_dependent else TIGHT_REL
    if min_rel < fail:
        return "FAIL"
    if name in TRANSCENDENTAL and min_rel < TRANS_REL:
        return "FAIL"
    if min_rel < tight:
        return "TIGHT"
    return "OK"


def _margin_stats() -> str:
    """SELECT list computing (count, min margin, min rel margin) over a
    CTE ``x`` that exposes a ``scaled`` column."""
    margin = "abs(scaled - floor(scaled) - 0.5)"
    return (
        f"SELECT count(*) AS n, min({margin}) AS min_margin,"
        f" min({margin} / greatest(abs(scaled), 1.0)) AS min_rel_margin"
        f" FROM x"
    )


def extra_probes() -> dict[str, str]:
    """Explicit probes for hazards the generic rewrite cannot see:
    CTE-buried rounds that flow through unchanged, and round() used in
    verify FILTERS (membership flips, not hashed values). Each
    interpolates the same shared fragments its certification oracle
    uses."""
    from groove_to_helpscout_migration_tool_spark.catalog.llm_ops import (
        _MINHASH_SIG_SQL,
        _SHINGLE_CTES,
        _TOKENS_SQL,
    )
    from groove_to_helpscout_migration_tool_spark.operators import dedup as DD
    from groove_to_helpscout_migration_tool_spark.operators import (
        similarity as SIM,
    )

    probes = {}
    # Dense-cosine family (ann_topk / hard_negatives / knn_label_vote
    # and the top-k subsets thereof): one probe over every
    # (anchor, corpus) cosine -- anchors are the bounded vec_id < 30
    # contract set, so this is a SUPERSET of each member's emitted
    # rows. IVF/k-means variants score against computed centroids
    # (mean vectors), a different population; their emitted-row sites
    # stay under the generic audit where aliased.
    dot = (
        f"list_sum(list_transform(range(1, {SIM.DIM} + 1),"
        f" x -> v_i[x] * v_j[x]))"
    )
    nrm = (
        "sqrt(list_sum(list_transform(range(1, {d} + 1),"
        " x -> {v}[x] * {v}[x])))"
    )
    probes["llm_ann_topk_cosine"] = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, y -> y::DOUBLE) AS v
  FROM embeddings
), a AS (
  SELECT vec_id AS i, v AS v_i FROM e WHERE vec_id < 30
), c AS (
  SELECT vec_id AS j, v AS v_j FROM e
), x AS (
  SELECT ({dot}
          / ({nrm.format(d=SIM.DIM, v='v_i')}
             * {nrm.format(d=SIM.DIM, v='v_j')}) * 1e6) AS scaled
  FROM a JOIN c ON i <> j
)
{_margin_stats()}
"""
    # tfidf: CTE-buried score, measured over ALL (doc, term) rows --
    # stricter than the emitted top-5 (a rank flip at the 5/6 boundary
    # requires the ROUNDED values to differ, so the full-population
    # value margin covers ranking too).
    probes["llm_tfidf_top_terms"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM documents
), tf AS (
  SELECT doc_id, lower(w) AS term, count(*) AS cnt FROM toks GROUP BY 1, 2
), doclen AS (
  SELECT doc_id, sum(cnt) AS n_tok FROM tf GROUP BY doc_id
), df AS (
  SELECT term, count(DISTINCT doc_id) AS n_docs FROM tf GROUP BY term
), n AS (SELECT count(*) AS total_docs FROM documents),
x AS (
  SELECT ((tf.cnt::DOUBLE / doclen.n_tok)
          * ln(n.total_docs::DOUBLE / df.n_docs) * 1e6) AS scaled
  FROM tf JOIN doclen USING (doc_id) JOIN df USING (term) CROSS JOIN n
)
{_margin_stats()}
"""
    # MinHash verify filter: jaccard margin over ALL banded candidate
    # pairs (pre-filter). The capped twin's bucket-capped pairs and
    # anchor-star pairs, and the incremental delta x base pairs, are
    # all subsets of this banded-co-membership population, so one probe
    # covers the whole family's membership risk at >= 0.5.
    probes["llm_neardup_minhash_lsh"] = f"""
WITH {_SHINGLE_CTES}, {_MINHASH_SIG_SQL}, bands AS (
  SELECT doc_id, b.b AS b,
    b.b::VARCHAR || '-' || array_to_string(list_slice(sig, b.b*4 + 1, b.b*4 + 4), '-') AS band_key
  FROM sig, (SELECT unnest(range({DD.N_BANDS})) AS b) b
), cand AS (
  SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
  FROM bands l JOIN bands r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
), x AS (
  SELECT (len(list_intersect(a.xs, b.xs))::DOUBLE
          / len(list_distinct(list_concat(a.xs, b.xs))) * 1e6) AS scaled
  FROM cand c JOIN docs a ON a.doc_id = c.i JOIN docs b ON b.doc_id = c.j
)
{_margin_stats()}
"""
    return probes


def threshold_probes() -> dict[str, str]:
    """Filter-threshold gap probes: a comparison against an ORDER-
    DEPENDENT float aggregate (an avg/sum scalar) can flip row
    MEMBERSHIP when some row's value sits within the accumulation
    wobble of the threshold -- a whole row appears/disappears from the
    output, visible at any magnitude (no %.10g masking). Surveyed
    comparison sites in the catalog: q17's 0.2*avg(quantity) threshold
    is EXACT (integer-valued sums are order-free), q11's 0.1%-of-total
    HAVING is all-integer by construction; q22's avg-balance filter is
    the one genuinely order-dependent threshold, measured here. Each
    probe returns (n_rows, min_margin=NULL, min_rel_margin = smallest
    |value - threshold| / threshold) and is graded on the
    order-dependent bands."""
    return {
        "q22_idle_customers": """
WITH a AS (SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0)
SELECT count(*) AS n, NULL AS min_margin,
       min(abs(c_acctbal - a.a)) / max(a.a) AS min_rel_margin
FROM customer, a
""",
    }


def run(sf_dir: str, only: set[str] | None = None) -> dict:
    from groove_to_helpscout_migration_tool_spark import catalog
    from groove_to_helpscout_migration_tool_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    report: dict = {"sf_dir": sf_dir, "queries": {}, "fails": [], "tights": []}
    extras = extra_probes()
    thresholds = threshold_probes()
    for name, spec in catalog.QUERIES.items():
        if only is not None and name not in only:
            continue
        if spec.oracle is None:
            continue
        if (not find_round_sites(spec.oracle) and name not in extras
                and name not in thresholds):
            continue
        rep = audit_oracle(con, name, spec.oracle)
        for alias, probe_sql, order_dep in (
            [("explicit_probe", extras[name], False)] if name in extras else []
        ) + (
            [("threshold_probe", thresholds[name], True)]
            if name in thresholds else []
        ):
            entry = {"alias": alias}
            try:
                n, mn, rmn = con.execute(probe_sql).fetchone()
                entry.update(
                    n_rows=n, min_margin=mn, min_rel_margin=rmn,
                    typ=["DOUBLE"],
                    verdict=classify(
                        name, rmn, order_dependent=order_dep, min_margin=mn
                    ),
                )
            except Exception as exc:
                entry["err"] = str(exc).split("\n")[0][:200]
                entry["verdict"] = "ERR"
            rep["sites"].append(entry)
            if _RANK[entry["verdict"]] > _RANK[rep["verdict"]]:
                rep["verdict"] = entry["verdict"]
        report["queries"][name] = rep
        if rep["verdict"] in ("FAIL", "ERR"):
            report["fails"].append(name)
        elif rep["verdict"] == "TIGHT":
            report["tights"].append(name)
    return report


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    report = run(sf_dir, only)
    for name, rep in sorted(report["queries"].items()):
        worst = min(
            (s.get("min_rel_margin") for s in rep["sites"]
             if s.get("min_rel_margin") is not None),
            default=None,
        )
        w = "n/a" if worst is None else f"{worst:.3e}"
        print(f"{rep['verdict']:5s} {name}: {len(rep['sites'])} probe(s),"
              f" min rel margin {w}, cte={rep['cte_sites']}"
              f" unaliased={rep['unaliased_sites']}")
    out = os.environ.get("FLOATMARGIN_JSON")
    if out:
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
    print(f"{len(report['fails'])} FAIL/ERR, {len(report['tights'])} TIGHT,"
          f" {len(report['queries'])} audited")
    sys.exit(1 if report["fails"] else 0)


if __name__ == "__main__":
    main()
