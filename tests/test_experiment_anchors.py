"""Round-7 anchor batch 3: the experimentation/statistics family.

Independent plain-Python replays (numpy formulas, textbook BH step-up,
hashlib-md5 arm split) against the engine's sufficient-statistics
plans, on hand-built inputs where every intermediate is auditable:

- ``welch_t_test_orders``: t and Welch–Satterthwaite df via numpy
  sample means/variances — the engine derives them from integer
  floor-mean/remainder identities, so a wrong identity can't hide.
- ``theil_sen_trend_daily``: median-of-pairwise-slopes with a planted
  outlier day that OLS would chase and Theil–Sen must shrug off.
- ``fdr_bh_screen``: Chebyshev p-values + Benjamini–Hochberg step-up
  replayed with the textbook "largest k with p_(k) <= k/m·alpha" rule,
  including the rejected-despite-p>cut step-up subtlety.
- ``cuped_adjusted_ab``: theta, adjusted effect, and rho² replayed
  with the md5-prefix arm split recomputed via hashlib.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import numpy as np
import pytest


def _d(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_welch_t_matches_textbook_replay(spark, tmp_path):
    # Unequal sizes AND unequal variances (the case Student's t gets
    # wrong and Welch exists for).
    urgent = [100, 120, 110, 130, 90, 150, 105, 115]
    low = [200, 400, 150, 500, 250, 100]
    rows = [("1-URGENT", float(v)) for v in urgent] + [
        ("5-LOW", float(v)) for v in low
    ] + [("3-MEDIUM", 999.0)]  # must be filtered out
    spark.createDataFrame(
        rows, "o_orderpriority string, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        welch_t_test_orders,
    )

    row = welch_t_test_orders(spark, str(tmp_path)).collect()[0]

    a = np.array(urgent, dtype=float)
    b = np.array(low, dtype=float)
    va, vb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(va + vb)
    df = (va + vb) ** 2 / (va**2 / (len(a) - 1) + vb**2 / (len(b) - 1))

    assert (row["n_urgent"], row["n_low"]) == (8, 6)
    assert row["mean_urgent"] == pytest.approx(a.mean(), abs=1e-4)
    assert row["mean_low"] == pytest.approx(b.mean(), abs=1e-4)
    assert row["t_stat"] == pytest.approx(round(t, 6), abs=2e-6)
    assert row["df_welch"] == pytest.approx(round(df, 2), abs=0.02)
    assert row["reject_95"] == (abs(t) > 1.959964)
    # Replay sanity: df must sit strictly between min(n)-1 and n1+n2-2.
    assert 5 < df < 12


def test_theil_sen_shrugs_off_planted_outlier(spark, tmp_path):
    # Days 0..7 of 1995 with y ~ 100 + 10*d, except day 4 is a 10x
    # outlier.  OLS slope would be pulled far above 10; the median of
    # pairwise slopes must stay near 10.
    daily = {0: 100, 1: 110, 2: 120, 3: 130, 4: 1400, 5: 150, 6: 160, 7: 170}
    rows = [
        (_d("1995-01-01") + datetime.timedelta(days=dd), float(y))
        for dd, y in daily.items()
    ]
    spark.createDataFrame(
        rows, "o_orderdate timestamp, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.timeseries import (
        theil_sen_trend_daily,
    )

    row = theil_sen_trend_daily(spark, str(tmp_path)).collect()[0]

    ds = sorted(daily)
    slopes = [
        (daily[b] - daily[a]) / (b - a)
        for i, a in enumerate(ds)
        for b in ds[i + 1 :]
    ]
    ts_slope = round(float(np.median(slopes)), 6)
    intercept = round(float(np.median([daily[dd] - ts_slope * dd for dd in ds])), 4)

    assert row["n_days"] == 8
    assert row["n_pairs"] == 28
    assert row["ts_slope"] == pytest.approx(ts_slope, abs=1e-9)
    assert row["ts_intercept"] == pytest.approx(intercept, abs=1e-9)
    # Robustness sanity: the replayed slope ignores the outlier.
    assert 9 <= ts_slope <= 11
    # And OLS would NOT (guard that the scenario actually discriminates).
    ols = np.polyfit(ds, [daily[dd] for dd in ds], 1)[0]
    assert ols > 20


def test_fdr_bh_stepup_matches_textbook_replay(spark, tmp_path):
    # 4 nations, 100 orders each; N0 is strongly shifted (|z| ~ 17, so
    # its Chebyshev p clears the rank-1 cut), N3 moderately, N2 mildly,
    # N1 barely — a full rejected/accepted gradient under the step-up
    # rule (p = 1/z² needs |z| >= ~9 before BH at m=4 can fire at all).
    nations = [(k, f"N{k}", 0, "") for k in range(4)]
    cust = [(10 * k + j, k) for k in range(4) for j in range(2)]
    base = {0: 600, 1: 515, 2: 500, 3: 485}
    spend = {
        k: [b + (2 if i % 2 else -2) for i in range(100)]
        for k, b in base.items()
    }
    orders, ok = [], 0
    for k, vals in spend.items():
        members = [c for c, nk in cust if nk == k]
        for i, v in enumerate(vals):
            ok += 1
            orders.append((ok, members[i % len(members)], float(v)))
    spark.createDataFrame(
        nations, "n_nationkey long, n_name string, n_regionkey long, n_comment string"
    ).write.parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        cust, "c_custkey long, c_nationkey long"
    ).write.parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        fdr_bh_screen,
    )

    got = {r["nation"]: r for r in fdr_bh_screen(spark, str(tmp_path)).collect()}

    # --- replay ---
    xs = {k: [float(v) for v in vals] for k, vals in spend.items()}
    allv = [v for vals in xs.values() for v in vals]
    nn, ss = len(allv), sum(allv)
    qq = sum(v * v for v in allv)
    gvar = (qq - ss * ss / nn) / (nn - 1)
    stats = {}
    for k, vals in xs.items():
        n, s = len(vals), sum(vals)
        z = (s / n - ss / nn) / math.sqrt(gvar / n)
        p = 1_000_000 if z * z <= 1 else math.floor(1_000_000 / (z * z) + 0.5)
        stats[k] = (n, z, p)
    m = len(stats)
    ranks = {
        k: 1
        + sum(
            1
            for k2, (_, _, p2) in stats.items()
            if k2 != k and (p2 < stats[k][2] or (p2 == stats[k][2] and k2 < k))
        )
        for k in stats
    }
    rstar = max(
        (ranks[k] for k in stats if stats[k][2] * m <= 50_000 * ranks[k]),
        default=0,
    )
    for k, (n, z, p) in stats.items():
        r = got[f"N{k}"]
        assert r["n_orders"] == n
        assert r["z_stat"] == pytest.approx(round(z, 6), abs=2e-6), f"N{k}"
        assert r["p_cheb_micros"] == p, f"N{k}"
        assert r["p_rank"] == ranks[k], f"N{k}"
        assert r["bh_cut_micros"] == 50_000 * ranks[k] // m, f"N{k}"
        assert r["rejected"] == (ranks[k] <= rstar), f"N{k}"
    # Scenario sanity: at least one rejection and at least one accept,
    # and the extreme nations rank 1-2.
    assert rstar >= 1
    assert ranks[0] <= 2
    assert any(ranks[k] > rstar for k in stats)


def test_cuped_matches_replay_with_md5_arm_split(spark, tmp_path):
    # 10 users; arm = md5("arm:"+uid)%2 recomputed with hashlib.  Pre-
    # and post-period spends correlate strongly so theta and the rho^2
    # variance reduction are far from zero.
    users = list(range(1, 11))
    pre = {u: 100 + 13 * u for u in users}
    post = {u: 50 + 9 * u + (7 if u % 3 == 0 else 0) for u in users}
    rows = []
    for u in users:
        rows.append((u, _d("2024-01-05"), float(pre[u])))
        rows.append((u, _d("2024-01-20"), float(post[u])))
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        cuped_adjusted_ab,
    )

    row = cuped_adjusted_ab(spark, str(tmp_path)).collect()[0]

    arm = {u: _md5_32(f"arm:{u}") % 2 for u in users}
    assert len({a for a in arm.values()}) == 2  # both arms populated
    xc = {u: pre[u] * 100 for u in users}
    yc = {u: post[u] * 100 for u in users}
    n = len(users)
    sx, sy = sum(xc.values()), sum(yc.values())
    qx = sum(v * v for v in xc.values())
    qy = sum(v * v for v in yc.values())
    sxy = sum(xc[u] * yc[u] for u in users)
    theta = (sxy - sx * sy / n) / (qx - sx * sx / n)
    var_y = (qy - sy * sy / n) / (n - 1)
    var_x = (qx - sx * sx / n) / (n - 1)
    cov = (sxy - sx * sy / n) / (n - 1)
    a_users = [u for u in users if arm[u] == 0]
    b_users = [u for u in users if arm[u] == 1]
    mya = sum(yc[u] for u in a_users) / len(a_users)
    myb = sum(yc[u] for u in b_users) / len(b_users)
    mxa = sum(xc[u] for u in a_users) / len(a_users)
    mxb = sum(xc[u] for u in b_users) / len(b_users)

    assert row["n_users"] == n
    assert (row["n_arm_a"], row["n_arm_b"]) == (len(a_users), len(b_users))
    assert row["theta"] == pytest.approx(round(theta, 6), abs=2e-6)
    assert row["diff_raw_dollars"] == pytest.approx(
        round((myb - mya) / 100, 4), abs=1e-4
    )
    assert row["diff_cuped_dollars"] == pytest.approx(
        round(((myb - theta * mxb) - (mya - theta * mxa)) / 100, 4), abs=1e-4
    )
    assert row["var_reduction_micros"] == pytest.approx(
        1_000_000 * (cov * cov / (var_x * var_y)), abs=1.5
    )
    # CUPED must shrink the measured arm gap here: the arms differ
    # mostly through their pre-period mix, which theta removes.
    assert abs(
        ((myb - theta * mxb) - (mya - theta * mxa))
    ) < abs(myb - mya)
