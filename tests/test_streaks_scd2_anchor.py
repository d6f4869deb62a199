"""Hand-computed anchors for user_daily_streaks and scd2_customer_orders.

Both are shared-definition idioms (calendar islands; validity-interval
lead windows) where an off-by-one in BOTH engines would pass the oracle
compare — these pin them to by-hand traces, including the traps:
multiple events in one day collapse to one active day; a midnight-
adjacent pair on consecutive days IS a streak; same-day orders chain by
the orderkey tiebreak; the latest interval stays open (NULL, current)."""

from __future__ import annotations

import datetime


def test_daily_streaks_by_hand(spark, tmp_path):
    def at(day, hour=8):
        return datetime.datetime(2024, 2, 1 + day, hour, 0, 0)

    rows = []
    # user 1: active days 0,1,2 then 5,6 -> streaks [3, 2].
    for d in (0, 1, 2, 5, 6):
        rows.append((1, "click", at(d)))
    # three extra events on day 1 must not lengthen anything
    rows += [(1, "view", at(1, 9)), (1, "view", at(1, 10)), (1, "view", at(1, 23))]
    # user 2: a 23:59 -> next-day 00:01 pair is a 2-day streak.
    rows.append((2, "click", datetime.datetime(2024, 2, 1, 23, 59, 0)))
    rows.append((2, "click", datetime.datetime(2024, 2, 2, 0, 1, 0)))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.timeseries import (
        user_daily_streaks,
    )

    out = {r["user_id"]: r for r in user_daily_streaks(spark, str(tmp_path)).collect()}
    assert (out[1]["n_streaks"], out[1]["longest_streak"], out[1]["n_active_days"]) == (2, 3, 5)
    assert (out[2]["n_streaks"], out[2]["longest_streak"], out[2]["n_active_days"]) == (1, 2, 2)


def test_scd2_intervals_by_hand(spark, tmp_path):
    d = lambda day: datetime.datetime(1997, 3, day)  # noqa: E731
    rows = [
        # customer 1: orders on day 1, two on day 5 (keys 12 < 13), day 9.
        (11, 1, 100.0, d(1)),
        (13, 1, 300.0, d(5)),
        (12, 1, 200.0, d(5)),
        (14, 1, 400.0, d(9)),
        # customer 2: a single order -> one open current interval.
        (21, 2, 50.0, d(2)),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.relational import (
        scd2_customer_orders,
    )

    out = {r["o_orderkey"]: r for r in scd2_customer_orders(spark, str(tmp_path)).collect()}
    # Chain for cust 1: 11 -> 12 -> 13 -> 14 (same-day keys order 12 < 13).
    assert out[11]["valid_to"] == d(5) and not out[11]["is_current"]
    assert out[12]["valid_to"] == d(5) and not out[12]["is_current"]  # same-day successor
    assert out[13]["valid_to"] == d(9) and not out[13]["is_current"]
    assert out[14]["valid_to"] is None and out[14]["is_current"]
    assert out[21]["valid_to"] is None and out[21]["is_current"]
    assert out[21]["valid_from"] == d(2)
