"""Zero-denominator guards on degenerate inputs (round-6 ADVICE).

The oracle compare can never exercise these paths — the synthetic
testdata has no zero denominators — so each guard is driven directly
here on a purpose-built degenerate table: a policy matching zero logged
events, a constant daily series (naive MAE = 0), and a single-cluster
partition (ARI denominator = 0).  The contract in every case is a clean
NULL, not an engine-dependent divide-by-zero or a crash.
"""

from __future__ import annotations

import datetime

import pytest


@pytest.fixture()
def tmp_sf(tmp_path):
    return str(tmp_path)


def test_bandit_policy_matching_zero_events_reports_null(spark, tmp_sf):
    # No 'purchase' events anywhere: the always_purchase policy matches
    # nothing, so its mean reward is undefined -> NULL, match stats 0.
    rows = [(i, "click" if i % 2 else "view", 1.50) for i in range(20)]
    spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    ).write.parquet(f"{tmp_sf}/events.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        bandit_replay_evaluation,
    )

    out = {
        r["policy"]: r
        for r in bandit_replay_evaluation(spark, tmp_sf).collect()
    }
    ap = out["always_purchase"]
    assert ap["n_matched"] == 0
    assert ap["match_rate_micros"] == 0
    assert ap["mean_reward_cents_milli"] is None
    # The identity baseline still evaluates normally.
    assert out["logged"]["n_matched"] == 20
    assert out["logged"]["mean_reward_cents_milli"] == 150_000


def test_mase_constant_series_reports_null_not_divzero(spark, tmp_sf):
    # One order per day, every day: every naive error is 0, so
    # naive_mae = 0 and MASE is undefined -> NULL; MAE itself is 0.
    days = [
        (datetime.datetime(1995, 1, 1) + datetime.timedelta(days=i),)
        for i in range(40)
    ]
    spark.createDataFrame(days, "o_orderdate timestamp").write.parquet(
        f"{tmp_sf}/orders.parquet"
    )

    from scats_transis_kinesis_spark.plans.timeseries import (
        forecast_backtest_mase,
    )

    out = {r["method"]: r for r in forecast_backtest_mase(spark, tmp_sf).collect()}
    assert set(out) == {"naive", "seasonal_naive_7", "trailing_mean_7"}
    for r in out.values():
        assert r["mae_micros"] == 0
        assert r["mase_micros"] is None


def test_ari_single_cluster_partition_reports_null(spark, tmp_sf):
    # Every doc is the same language AND classifies the same way
    # (stopword-dense text -> 'en'): one cluster on both sides, so the
    # ARI denominator is exactly 0 -> NULL; the uncorrected pairwise
    # stats are all perfect (1e6 micros) because the partitions agree.
    rows = [(f"the and of to a in is it {i}",) for i in range(12)]
    spark.createDataFrame(rows, "text string").selectExpr(
        "'en' as lang", "text"
    ).write.parquet(f"{tmp_sf}/documents.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        lang_id_agreement_ari,
    )

    row = lang_id_agreement_ari(spark, tmp_sf).collect()[0]
    assert row["n_docs"] == 12
    assert row["true_pairs"] == row["pred_pairs"] == row["matched_pairs"] == 66
    assert row["precision_micros"] == 1_000_000
    assert row["recall_micros"] == 1_000_000
    assert row["f1_micros"] == 1_000_000
    assert row["rand_index_micros"] == 1_000_000
    assert row["ari"] is None


def test_pearson_constant_series_reports_null_not_divzero(spark, tmp_sf):
    # One order per day at one price: rev_c and n_orders are both
    # constant across days, so the exact integer cross-moments cxx and
    # cyy are exactly 0 and BOTH correlations are undefined -> NULL
    # (round-7 ADVICE guard); before the guard this raised an ANSI
    # DIVIDE_BY_ZERO inside ``corr`` and an engine-dependent inf/NaN
    # in the pearson expression.
    days = [
        (datetime.datetime(1995, 1, 1) + datetime.timedelta(days=i), 100.00)
        for i in range(30)
    ]
    spark.createDataFrame(
        days, "o_orderdate timestamp, o_totalprice double"
    ).write.parquet(f"{tmp_sf}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        spearman_daily_kpis,
    )

    row = spearman_daily_kpis(spark, tmp_sf).collect()[0]
    assert row["n_days"] == 30
    assert row["spearman_rho"] is None
    assert row["pearson_r"] is None
