"""Semantic anchors for the round-5 experimentation batch
(``pipeline_queries23``).

- BH screen: the test recomputes z, the Chebyshev p, ranks and the
  step-up cut in Python integer arithmetic from the same sufficient
  statistics and demands equality.
- Poisson bootstrap: a constant-valued table pins mean = c and BOTH
  standard errors to exactly zero (every replicate mean equals c no
  matter the weights).
- CUPED: when the post metric equals the pre covariate exactly,
  θ = 1, the adjusted effect collapses to 0, and the variance
  reduction is exactly 1e6 micros.
"""

from __future__ import annotations

import datetime
import math


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def test_fdr_bh_matches_python_mirror(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.stats import (
        fdr_bh_screen,
    )

    # nation 0/1: values near 100; nation 2: way out.  Chebyshev p is
    # conservative (z² is bounded by n when one group drives the
    # variance), so the anchor needs enough rows for the outlier
    # nation to clear the BH cut: z² ≈ n = 300 → p ≈ 3333 micros.
    data = {
        0: [99 + (i % 3) for i in range(100)],
        1: [98 + (i % 5) for i in range(100)],
        2: [500 + (i % 7) for i in range(100)],
    }
    cust, orders = [], []
    ok = 0
    for nk, vals in data.items():
        cust.append((nk * 10, nk))
        for v in vals:
            orders.append((ok, nk * 10, float(v), date(1995, 1, 1)))
            ok += 1
    _write(spark, tmp_path, "customer", cust, "c_custkey long, c_nationkey long")
    _write(
        spark, tmp_path, "orders", orders,
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate date",
    )
    _write(
        spark, tmp_path, "nation",
        [(0, "AAA"), (1, "BBB"), (2, "CCC")],
        "n_nationkey long, n_name string",
    )
    got = {r["nation"]: r for r in fdr_bh_screen(spark, str(tmp_path)).collect()}

    # Python mirror of the exact arithmetic.
    flat = [v for vals in data.values() for v in vals]
    nn, ss = len(flat), sum(flat)
    qq = sum(v * v for v in flat)
    var = (qq - ss * ss / nn) / (nn - 1)
    stats = {}
    for nk, vals in data.items():
        zv = (sum(vals) / len(vals) - ss / nn) / math.sqrt(var / len(vals))
        p = 1_000_000 if zv * zv <= 1 else round(1_000_000 / (zv * zv))
        stats[nk] = (zv, p)
    order = sorted(stats, key=lambda k: (stats[k][1], k))
    ranks = {nk: i + 1 for i, nk in enumerate(order)}
    m = 3
    passing = [ranks[nk] for nk in stats if stats[nk][1] * m <= 50_000 * ranks[nk]]
    rstar = max(passing, default=0)
    names = {0: "AAA", 1: "BBB", 2: "CCC"}
    for nk, (zv, p) in stats.items():
        r = got[names[nk]]
        assert r["p_cheb_micros"] == p
        assert r["p_rank"] == ranks[nk]
        assert r["rejected"] == (ranks[nk] <= rstar)
    assert got["CCC"]["rejected"] is True  # the far-out nation


def test_poisson_bootstrap_constant_table_has_zero_se(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.stats import (
        poisson_bootstrap_se,
    )

    rows = [(i, i, 42.0, date(1995, 1, 1)) for i in range(50)]
    _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate date",
    )
    [r] = poisson_bootstrap_se(spark, str(tmp_path)).collect()
    assert r["n_rows"] == 50
    assert r["n_replicates"] == 32
    assert r["mean_dollars"] == 42.0
    assert r["se_boot_dollars"] == 0.0
    assert r["se_analytic_dollars"] == 0.0


def test_cuped_perfect_covariate_wipes_the_diff(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        cuped_adjusted_ab,
    )

    rows = []
    eid = 0
    for uid in range(1, 9):
        v = float(10 * uid)
        for day in (10, 20):  # pre (< Jan 16) and post (>= Jan 16)
            rows.append(
                (eid, uid, datetime.datetime(2024, 1, day), "purchase", v)
            )
            eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double",
    )
    [r] = cuped_adjusted_ab(spark, str(tmp_path)).collect()
    assert r["n_users"] == 8
    assert r["n_arm_a"] + r["n_arm_b"] == 8
    assert r["theta"] == 1.0
    assert r["var_reduction_micros"] == 1_000_000
    assert r["diff_cuped_dollars"] == 0.0
