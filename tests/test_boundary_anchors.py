"""Round-7 anchor batch 14: interval and calendar boundary conventions.

Each of these queries shares an inclusive/exclusive or calendar-origin
convention with its oracle; the anchors pin the convention itself on
inputs sitting exactly ON the boundary:

- ``range_join_ship_lag``: [orderdate, orderdate+7d] inclusive BOTH
  ends — lags 0 and 7 join, lag 8 does not.
- ``cohort_weekly_retention``: weeks truncate to MONDAY — a
  Sunday-first user active the next day (Monday) is offset 1, while a
  Monday-first user active the following Sunday is offset 0.
- ``sliding_window_traffic``: 10-minute windows every 5 minutes,
  half-open [start, end) — an event exactly on a window boundary
  belongs to the later window and still lands in exactly two windows.
- ``text_chunking``: stride-25/size-50 chunks with the tail-dedup rule
  (a last chunk adding no new tokens over its predecessor is dropped,
  except for single-chunk docs).
"""

from __future__ import annotations

import datetime


def test_range_join_bounds_inclusive_both_ends(spark, tmp_path):
    od = datetime.datetime(1996, 3, 1)
    orders = [(1, "1-URGENT", od)]
    lines = [
        (1, 10.0, od),                                  # lag 0 -> in
        (1, 20.0, od + datetime.timedelta(days=7)),     # lag 7 -> in
        (1, 40.0, od + datetime.timedelta(days=8)),     # lag 8 -> out
        (2, 80.0, od),                                  # wrong key -> out
    ]
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderpriority string, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_quantity double, l_shipdate timestamp"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.relational import (
        range_join_ship_lag,
    )

    rows = range_join_ship_lag(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["n_items"] == 2
    assert rows[0]["total_qty"] == 30.0


def test_cohort_weeks_truncate_to_monday(spark, tmp_path):
    sunday = datetime.datetime(2024, 1, 7, 12)     # Sunday
    monday = datetime.datetime(2024, 1, 8, 12)     # Monday (next week)
    rows = [
        # user 1: first seen Sunday, active Monday -> offsets {0, 1}
        (1, 1, "click", sunday, 1.0),
        (2, 1, "click", monday, 1.0),
        # user 2: first seen Monday, active the following Sunday
        # (6 days later, same Mon-Sun week) -> offset {0} only
        (3, 2, "click", monday, 1.0),
        (4, 2, "click", monday + datetime.timedelta(days=6), 1.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.timeseries import (
        cohort_weekly_retention,
    )

    got = {
        (r["cohort_week"], r["week_offset"]): r["n_active_users"]
        for r in cohort_weekly_retention(spark, str(tmp_path)).collect()
    }
    wk1 = datetime.date(2024, 1, 1)   # Monday of Sunday's week
    wk2 = datetime.date(2024, 1, 8)
    assert got == {
        (wk1, 0): 1,   # user 1's Sunday
        (wk1, 1): 1,   # user 1's Monday: ONE day later, NEXT week
        (wk2, 0): 1,   # user 2: both events inside one Mon-Sun week
    }


def test_sliding_windows_are_half_open(spark, tmp_path):
    # Event exactly at 12:05:00 — a window boundary on the 5-minute
    # grid: it must land in [12:00, 12:10) and [12:05, 12:15), NOT in
    # [11:55, 12:05).
    ts = datetime.datetime(2024, 1, 10, 12, 5, 0)
    rows = [(1, 1, "click", ts, 3.5)]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.timeseries import (
        sliding_window_traffic,
    )

    got = sorted(
        (r["window_start"], r["n_events"], r["total_value"])
        for r in sliding_window_traffic(spark, str(tmp_path)).collect()
    )
    assert got == [
        (datetime.datetime(2024, 1, 10, 12, 0), 1, 3.5),
        (datetime.datetime(2024, 1, 10, 12, 5), 1, 3.5),
    ]


def test_chunking_stride_and_tail_dedup(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunking,
    )

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    # 60 tokens: chunks at 0 (w0..w49) and 25 (w25..w59); a chunk at 50
    # would add tokens 75..99 which don't exist -> idx 2 has
    # 2*25 >= 60, excluded by the idx*stride < len rule.
    # 30 tokens: chunk 0 covers all 30; chunk 1 (25..29) adds NOTHING
    # beyond chunk 0 -> dropped by the tail-dedup rule.
    # 10 tokens: single short chunk survives (idx = 0 exemption).
    texts = {0: words(60), 1: words(30), 2: words(10)}
    rows = [(did, t, "en", "s0", len(t)) for did, t in texts.items()]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in text_chunking(spark, str(tmp_path)).collect()
    }

    want = {}
    for did, t in texts.items():
        w = t.split(" ")
        n = len(w)
        idx = 0
        while idx * CHUNK_STRIDE < n:
            start = idx * CHUNK_STRIDE
            if idx > 0 and start + CHUNK_TOKENS - CHUNK_STRIDE >= n:
                break  # tail chunk adds no new tokens
            chunk = w[start : start + CHUNK_TOKENS]
            want[(did, idx)] = (" ".join(chunk), len(chunk))
            idx += 1
    assert got == want
    assert set(got) == {(0, 0), (0, 1), (1, 0), (2, 0)}
    assert got[(0, 1)][1] == 35  # 60 - 25 remaining tokens
