"""Rounding-margin regression guard (tools/float_margins.py).

The sf1 widening caught two real cross-engine rounding bugs by luck
(llm_importance_weights_dsir's floor-ULP flip, llm_dataset_card's
round-half ties). This suite makes the hazard class a guard: the
parser units pin the SQL surgery the audit relies on, and the catalog
test runs the full margin audit at sf0.01 asserting nothing sits
inside (FAIL) or near (ERR -- a probe that stopped running is as bad
as a failing one) the procedure-disagreement window.
"""

from __future__ import annotations

from tools.float_margins import (
    audit_oracle,
    find_round_sites,
    final_select_pos,
    run,
    site_alias,
)


class TestRoundSiteParser:
    def test_simple_aliased_site(self):
        sql = "SELECT round(a / b, 6) AS r FROM t"
        sites = find_round_sites(sql)
        assert len(sites) == 1
        assert sites[0][2] == "a / b"
        assert sites[0][3] == "6"
        assert site_alias(sql, sites[0]) == "r"

    def test_nested_parens_and_commas(self):
        sql = "SELECT round(f(x, g(y, z)) / h(w), 4) AS r FROM t"
        sites = find_round_sites(sql)
        assert len(sites) == 1
        assert sites[0][2] == "f(x, g(y, z)) / h(w)"
        assert sites[0][3] == "4"

    def test_single_arg_round_is_exempt(self):
        # scale-0 ties are dyadic and HALF_UP == half-away on them:
        # cross-engine-safe, so the 1-arg form must not be audited
        assert find_round_sites("SELECT round(x) FROM t") == []

    def test_identifier_suffix_not_matched(self):
        assert find_round_sites("SELECT wraparound(x, 6) FROM t") == []

    def test_cte_vs_final_select_split(self):
        sql = (
            "WITH c AS (SELECT round(a, 6) AS v FROM t) "
            "SELECT round(v * 2, 6) AS w FROM c"
        )
        fpos = final_select_pos(sql)
        sites = find_round_sites(sql)
        assert [s[0] < fpos for s in sites] == [True, False]

    def test_unaliased_filter_site_detected(self):
        sql = (
            "SELECT round(a, 6) AS r FROM t "
            "WHERE round(a, 6) >= 0.5"
        )
        sites = find_round_sites(sql)
        assert site_alias(sql, sites[0]) == "r"
        assert site_alias(sql, sites[1]) is None


class TestUnionAliasGrouping:
    def test_union_branches_grouped_not_mixed(self, duck):
        # The p03 profile shape: two UNION branches share the output
        # alias. A per-site rewrite would mix one branch's margin with
        # the other branch's RAW value (the false tie the first draft
        # of the audit reported); grouping must probe both together.
        sql = (
            "SELECT round(1.0 / 3.0, 6) AS m UNION ALL "
            "SELECT round(2.0 / 3.0, 6) AS m"
        )
        rep = audit_oracle(duck, "synthetic", sql)
        assert rep["verdict"] == "OK"
        (site,) = rep["sites"]
        assert site["n_sites"] == 2
        assert site["n_rows"] == 2
        # 1/3 scaled = 333333.33..: margin |0.333.. - 0.5| ~ 0.1667
        assert 0.16 < site["min_margin"] < 0.17

    def test_exact_boundary_fails(self, duck):
        # 0.0000005 * 1e6 = 0.5 exactly: the definitional tie (cast to
        # DOUBLE -- a bare literal parses as DECIMAL and is exempt)
        sql = "SELECT round(0.0000005::DOUBLE, 6) AS m"
        rep = audit_oracle(duck, "synthetic", sql)
        assert rep["verdict"] == "FAIL"

    def test_decimal_sites_exempt(self, duck):
        sql = "SELECT round(CAST(1.5 AS DECIMAL(10, 2)), 1) AS m"
        rep = audit_oracle(duck, "synthetic", sql)
        assert rep["verdict"] == "OK"
        assert rep["sites"][0]["typ"] != ["DOUBLE"]


import duckdb  # noqa: E402
import pytest  # noqa: E402


@pytest.fixture()
def duck():
    return duckdb.connect()


class TestCatalogMargins:
    def test_no_query_inside_the_disagreement_window(self):
        report = run("/root/testdata/sf0.01")
        assert report["fails"] == [], (
            "rounded outputs within ~8 ulps of a rounding boundary (or "
            "broken probes); see tools/float_margins.py docstring: "
            f"{report['fails']}"
        )
        # the audit must actually cover the catalog: the known rounded
        # families plus the three explicit probes
        assert len(report["queries"]) >= 60
        probed = {
            n for n, r in report["queries"].items()
            if any(s.get("alias") == "explicit_probe" for s in r["sites"])
        }
        assert probed >= {
            "llm_tfidf_top_terms",
            "llm_neardup_minhash_lsh",
            "llm_ann_topk_cosine",
        }


class TestMoneySumIdioms:
    """Pin the exact-cents split-sum algebra the relational money
    queries rely on (pure Python recount -- no Spark session)."""

    def test_split_sum_recombination_is_exact(self):
        # sum(u) == 1e6 * sum(u div 1e6) + sum(u % 1e6) for any
        # non-negative units, including values far above 2^53 where a
        # double sum would silently lose exactness
        import random

        rng = random.Random(7)
        units = [rng.randrange(0, 120_000_000_000) for _ in range(10_000)]
        m = 1_000_000
        lo = sum(u % m for u in units)
        hi = sum(u // m for u in units)
        assert hi * m + lo == sum(units)

    def test_halfup_div_idiom(self):
        # (2a + u) DIV (2u) == round-half-up(a / u) for a, u > 0 --
        # the display idiom shared with llm_dataset_card
        from fractions import Fraction

        for a in [0, 1, 49, 50, 51, 99, 100, 149, 150, 12345, 10**18 + 1]:
            for u in [100, 10000, 7, 14]:
                got = (2 * a + u) // (2 * u)
                exact = Fraction(a, u)
                floor_v = exact.numerator // exact.denominator
                frac = exact - floor_v
                want = floor_v + (1 if frac >= Fraction(1, 2) else 0)
                assert got == want, (a, u, got, want)
