"""Round-7 anchor batch 22: financial-audit formulas.

- ``benford_digit_audit``: first-digit extraction pinned across
  magnitudes (0.05 -> 5, 9.99 -> 9, 1000 -> 1) and the Benford
  expectation / chi-square terms replayed with plain math.
- ``revenue_concentration_gini``: the rank-weighted Gini identity
  G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n replayed against two closed-form
  cases — perfect equality gives exactly 0, and a single customer
  holding everything gives (n−1)/n.
"""

from __future__ import annotations

import math

import pytest


def test_benford_digits_and_chi2_match_replay(spark, tmp_path):
    # Magnitudes spanning 10^-2 .. 10^3, with digit counts easy to
    # enumerate: leading digits [1, 1, 2, 5, 9, 1, 3, 7].
    prices = [1.23, 19.99, 0.02, 5.0, 9.99, 1000.0, 345.6, 0.07]
    rows = [(i, p) for i, p in enumerate(prices)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        benford_digit_audit,
    )

    got = {
        r["digit"]: (r["n_obs"], r["expected_share"], r["observed_share"],
                     r["chi2_term"])
        for r in benford_digit_audit(spark, str(tmp_path)).collect()
    }

    def leading(x):
        return int(x / 10 ** math.floor(math.log10(x)))

    counts = {}
    for p in prices:
        d = leading(p)
        counts[d] = counts.get(d, 0) + 1
    assert counts == {1: 3, 2: 1, 5: 1, 9: 1, 3: 1, 7: 1}
    n = len(prices)
    for d, c in counts.items():
        e = math.log(1 + 1 / d) / math.log(10)
        chi2 = (c - e * n) ** 2 / (e * n)
        g = got[d]
        assert g[0] == c, d
        assert g[1] == pytest.approx(round(e, 6), abs=1e-9), d
        assert g[2] == pytest.approx(round(c / n, 6), abs=1e-9), d
        assert g[3] == pytest.approx(round(chi2, 6), abs=2e-6), d
    assert set(got) == set(counts)


def test_gini_matches_closed_forms(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        revenue_concentration_gini,
    )

    # Case 1: perfect equality — 8 customers, one 100.0 order each.
    rows = [(i, i, 100.0) for i in range(1, 9)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.parquet(f"{tmp_path}/equal/orders.parquet")
    r1 = revenue_concentration_gini(spark, f"{tmp_path}/equal").collect()[0]
    assert r1["n_customers"] == 8
    assert r1["total_revenue"] == 800.0
    assert r1["gini"] == pytest.approx(0.0, abs=1e-9)

    # Case 2: one whale holds ~everything (others epsilon): G -> (n-1)/n
    # exactly when the others are zero; with tiny-but-positive others
    # the replayed identity is the anchor.
    revs = {1: 0.01, 2: 0.01, 3: 0.01, 4: 1000.0}
    rows = [(i, ck, v) for i, (ck, v) in enumerate(revs.items())]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.parquet(f"{tmp_path}/whale/orders.parquet")
    r2 = revenue_concentration_gini(spark, f"{tmp_path}/whale").collect()[0]

    ranked = sorted((v, ck) for ck, v in revs.items())
    n = len(ranked)
    total = sum(v for v, _ in ranked)
    weighted = sum(i * v for i, (v, _) in enumerate(ranked, start=1))
    gini = (2.0 * weighted) / (n * total) - (n + 1.0) / n
    assert r2["n_customers"] == n
    assert r2["gini"] == pytest.approx(round(gini, 6), abs=1e-9)
    # Near the single-holder bound (n-1)/n = 0.75.
    assert 0.74 < gini < 0.75
