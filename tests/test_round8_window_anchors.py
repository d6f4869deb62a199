"""Round-8 window anchors: hand-built edge cases for the oldest-green cohort.

The round-8 driver window re-verifies 41 r1/r2-only queries (TPC-H
spine, joins, windows, set ops) whose last driver check predates every
shared-helper sweep since.  Their DuckDB oracles are independent
encodings, but 30 of them had no dedicated test pinning the EDGE
semantics both engines could get wrong identically — NULL join keys,
equal-timestamp as-of matches, data-NULL vs subtotal-NULL in rollup,
tie-breaks, half-open bucket boundaries, ntile remainders, zero-count
outer groups, salt parity.  Each test builds a micro corpus where the
edge case dominates, runs the REGISTERED query, and compares against a
plain-Python replay (or a hand-checked table).
"""

from __future__ import annotations

from datetime import datetime, timezone


def _epoch(dt: datetime) -> int:
    return int(dt.replace(tzinfo=timezone.utc).timestamp())


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")


def _write_orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")


def _write_customer(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")


T = lambda h, m=0: datetime(2020, 1, 1, h, m)  # noqa: E731


def test_asof_equal_ts_match_and_no_prior_click(spark, tmp_path):
    # ASOF semantics: latest click AT OR BEFORE the purchase (equal
    # timestamps match); a purchase before any click gets NULL.
    _write_events(spark, tmp_path, [
        # u1: click exactly at the purchase instant; earlier purchase
        (1, T(10), 1, "click", 0.0, ""),
        (2, T(10), 1, "purchase", 0.0, ""),   # equal ts -> 10:00
        (3, T(9), 1, "purchase", 0.0, ""),    # before any click -> NULL
        # u2: two clicks; purchases pick the latest <= each
        (4, T(10), 2, "click", 0.0, ""),
        (5, T(11), 2, "click", 0.0, ""),
        (6, T(11, 30), 2, "purchase", 0.0, ""),  # -> 11:00
        (7, T(10, 30), 2, "purchase", 0.0, ""),  # -> 10:00
        # u3: never clicked
        (8, T(12), 3, "purchase", 0.0, ""),      # -> NULL
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        asof_purchase_last_click,
    )

    got = {
        r["event_id"]: r["asof_click_epoch"]
        for r in asof_purchase_last_click(spark, str(tmp_path)).collect()
    }
    assert got == {
        2: _epoch(T(10)),
        3: None,
        6: _epoch(T(11)),
        7: _epoch(T(10)),
        8: None,
    }


def test_null_key_join_family(spark, tmp_path):
    # NULL join keys: never equal to anything — the anti join KEEPS the
    # NULL-key customer (NOT EXISTS over an empty correlation), the semi
    # join drops it, the outer count gives it zero, and q13 lands it in
    # the c_count=0 bucket alongside the genuinely orderless customer.
    _write_customer(spark, tmp_path, [
        (1, "c1", 0, 0.0, "A"),
        (2, "c2", 0, 0.0, "A"),
        (3, "c3", 0, 0.0, "A"),
        (None, "c-null", 0, 0.0, "A"),
    ])
    _write_orders(spark, tmp_path, [
        (10, 1, "F", 500000.0, T(1), "1-URGENT"),   # above both thresholds
        (11, 2, "F", 450.0, T(1), "1-URGENT"),      # above 400 only
        (12, 2, "F", 100.0, T(1), "1-URGENT"),
        (13, None, "F", 50.0, T(1), "1-URGENT"),    # orphan order
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        join_anti,
        join_outer_counts,
        join_semi,
    )
    from scats_transis_kinesis_spark.plans.relational import (
        q13_order_count_distribution,
    )

    anti = {r["c_custkey"] for r in join_anti(spark, str(tmp_path)).collect()}
    assert anti == {2, 3, None}  # cust1 has the 500k order; NULL key kept

    semi = {r["c_custkey"] for r in join_semi(spark, str(tmp_path)).collect()}
    assert semi == {1, 2}  # orders > 400; NULL-key customer matches nothing

    outer = {
        r["c_custkey"]: (r["n_orders"], r["total_spend"])
        for r in join_outer_counts(spark, str(tmp_path)).collect()
    }
    assert outer == {
        1: (1, 500000.0),
        2: (2, 550.0),
        3: (0, 0.0),
        None: (0, 0.0),
    }

    q13 = {
        r["c_count"]: r["custdist"]
        for r in q13_order_count_distribution(spark, str(tmp_path)).collect()
    }
    assert q13 == {1: 1, 2: 1, 0: 2}


def _replay_grouping_sets(rows, sets):
    """Plain-Python GROUPING SETS replay over (status, priority) rows:
    returns the multiset of (status, priority, n) after the queries'
    coalesce(..., 'ALL') rendering.  Data NULLs and subtotal NULLs both
    render 'ALL' but stay separate rows — the hazard under test."""
    from collections import Counter
    out = []
    for keep in sets:
        groups = Counter(
            tuple(v if i in keep else "__SUBTOTAL__" for i, v in enumerate(r))
            for r in rows
        )
        for key, n in groups.items():
            out.append(tuple(
                "ALL" if v in (None, "__SUBTOTAL__") else v for v in key
            ) + (n,))
    return sorted(out)


def test_rollup_cube_data_null_vs_subtotal_null(spark, tmp_path):
    # A NULL o_orderstatus DATA row renders 'ALL' exactly like the
    # rollup's subtotal rows — they must remain distinct result rows
    # with their own counts, never merge.
    rows = [
        ("F", "1-URGENT"),
        ("F", "1-URGENT"),
        ("F", "2-HIGH"),
        (None, "1-URGENT"),   # data NULL
        ("O", None),          # data NULL in the second level
    ]
    _write_orders(spark, tmp_path, [
        (i, 1, s, 10.0, T(1), p) for i, (s, p) in enumerate(rows)
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        cube_status_priority,
        rollup_status_priority,
    )

    got_rollup = sorted(
        (r["status"], r["priority"], r["n"])
        for r in rollup_status_priority(spark, str(tmp_path)).collect()
    )
    # ROLLUP(a, b) = grouping sets {(a,b), (a,), ()}
    want_rollup = _replay_grouping_sets(rows, [{0, 1}, {0}, set()])
    assert got_rollup == want_rollup
    # The hazard made concrete: two ('ALL', '1-URGENT', ...) rows exist
    # (the data-NULL detail group and nothing else here), and two
    # ('ALL', 'ALL', ...) rows (the data-NULL level-1 subtotal and the
    # grand total) — distinct counts, not merged.
    all_all = [t for t in got_rollup if t[:2] == ("ALL", "ALL")]
    assert sorted(t[2] for t in all_all) == [1, 5]

    got_cube = sorted(
        (r["status"], r["priority"], r["n"])
        for r in cube_status_priority(spark, str(tmp_path)).collect()
    )
    want_cube = [
        (s, p, n)
        for (s, p, n) in _replay_grouping_sets(
            rows, [{0, 1}, {0}, {1}, set()]
        )
    ]
    assert got_cube == sorted(want_cube)


def test_topk_per_group_tie_break(spark, tmp_path):
    # Equal prices at the k boundary: the deterministic o_orderkey
    # ascending tiebreak decides who survives.
    _write_orders(spark, tmp_path, [
        (4, 1, "F", 100.0, T(1), "1-URGENT"),
        (3, 1, "F", 100.0, T(1), "1-URGENT"),
        (2, 1, "F", 100.0, T(1), "1-URGENT"),
        (1, 1, "F", 100.0, T(1), "1-URGENT"),   # four-way tie: keys 1,2,3 win
        (9, 2, "F", 50.0, T(1), "1-URGENT"),
        (8, 2, "F", 60.0, T(1), "1-URGENT"),    # under k rows: all kept
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        topk_orders_per_customer,
    )

    got = sorted(
        (r["o_custkey"], r["o_orderkey"])
        for r in topk_orders_per_customer(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 1), (1, 2), (1, 3), (2, 8), (2, 9)]


def test_salted_join_matches_plain_join(spark, tmp_path):
    # Salting is a physical strategy only: result must equal the plain
    # inner join — including a hot key (u1) and a NULL user_id event
    # that matches nothing.
    events = [
        (i, T(1), 1, "click", 2.5, "") for i in range(20)   # hot key
    ] + [
        (100, T(1), 2, "click", 7.0, ""),
        (101, T(1), 99, "click", 1.0, ""),   # no such customer
        (102, T(1), None, "click", 1.0, ""), # NULL key joins nothing
    ]
    _write_events(spark, tmp_path, events)
    _write_customer(spark, tmp_path, [
        (1, "c1", 7, 0.0, "A"),
        (2, "c2", 8, 0.0, "A"),
        (3, "c3", 8, 0.0, "A"),   # no events
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        salted_join_skew,
    )

    got = {
        r["c_nationkey"]: (r["n_events"], r["total_value"])
        for r in salted_join_skew(spark, str(tmp_path)).collect()
    }
    # plain-Python inner join + group by nation
    cust = {1: 7, 2: 8, 3: 8}
    agg = {}
    for _, _, uid, _, val, _ in events:
        if uid in cust:
            n, s = agg.get(cust[uid], (0, 0.0))
            agg[cust[uid]] = (n + 1, s + val)
    assert got == {k: (n, round(s, 4)) for k, (n, s) in agg.items()}
    assert got[7] == (20, 50.0)  # the hot key survived salting intact


def test_histogram_half_open_bucket_edges(spark, tmp_path):
    # Bucket width 50k over [0, 500k): a value exactly ON an interior
    # edge belongs to the RIGHT bucket; the top edge clamps into the
    # last bucket.
    prices = [0.0, 49999.99, 50000.0, 99999.0, 450000.0, 499999.0, 500000.0]
    _write_orders(spark, tmp_path, [
        (i, 1, "F", p, T(1), "1-URGENT") for i, p in enumerate(prices)
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        histogram_order_totals,
    )

    got = {
        r["bucket"]: (r["n_orders"], r["lo"], r["hi"])
        for r in histogram_order_totals(spark, str(tmp_path)).collect()
    }
    assert got == {
        0: (2, 0.0, 49999.99),
        1: (2, 50000.0, 99999.0),     # 50000.0 is bucket 1, not 0
        9: (3, 450000.0, 500000.0),   # 500000.0 clamps into bucket 9
    }


def test_window_frames_and_ntile_remainder(spark, tmp_path):
    # One customer, five orders, two sharing an order DATE (the
    # o_orderkey tiebreak orders them); ntile(4) over 5 rows deals
    # bucket sizes [2, 1, 1, 1].
    _write_orders(spark, tmp_path, [
        (1, 7, "F", 12.0, T(1), "1-URGENT"),
        (3, 7, "F", 24.0, T(2), "1-URGENT"),   # same date as key 2:
        (2, 7, "F", 36.0, T(2), "1-URGENT"),   # key 2 sorts BEFORE key 3
        (4, 7, "F", 48.0, T(3), "1-URGENT"),
        (5, 7, "F", 60.0, T(4), "1-URGENT"),
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        window_frames_running,
    )

    got = {
        r["o_orderkey"]: (r["running_total"], r["moving_avg_3"], r["quartile"])
        for r in window_frames_running(spark, str(tmp_path)).collect()
    }
    # sort order by (date, key): 1, 2, 3, 4, 5 with prices 12,36,24,48,60
    assert got == {
        1: (12.0, 12.0, 1),
        2: (48.0, 24.0, 1),    # (12+36)/2
        3: (72.0, 24.0, 2),    # (12+36+24)/3
        4: (120.0, 36.0, 3),   # (36+24+48)/3
        5: (180.0, 44.0, 4),   # (24+48+60)/3
    }


def test_pivot_zero_fill_and_unpinned_type(spark, tmp_path):
    # A user missing a pivoted type gets 0 (not NULL); an event type
    # outside the pinned column list contributes to NO column — a user
    # with ONLY such events still appears, all zeros.
    _write_events(spark, tmp_path, [
        (1, T(1), 1, "click", 0.0, ""),
        (2, T(1), 1, "click", 0.0, ""),
        (3, T(1), 1, "purchase", 0.0, ""),
        (4, T(1), 2, "view", 0.0, ""),
        (5, T(1), 3, "login", 0.0, ""),   # not a pivoted type
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        pivot_event_counts,
    )

    got = {
        r["user_id"]: (r["click"], r["view"], r["purchase"], r["signup"], r["error"])
        for r in pivot_event_counts(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2, 0, 1, 0, 0),
        2: (0, 1, 0, 0, 0),
        3: (0, 0, 0, 0, 0),
    }


def test_correlated_subquery_single_order_never_qualifies(spark, tmp_path):
    # total > 1.5 * avg(own customer): a single-order customer compares
    # a price against 1.5x itself — never true; a [100, 400] customer
    # qualifies only the 400 (avg 250, threshold 375).
    _write_orders(spark, tmp_path, [
        (1, 1, "F", 999999.0, T(1), "1-URGENT"),  # single order: excluded
        (2, 2, "F", 100.0, T(1), "1-URGENT"),
        (3, 2, "F", 400.0, T(1), "1-URGENT"),     # 400 > 375: qualifies
    ])
    from scats_transis_kinesis_spark.plans.relational import (
        correlated_subquery_orders,
    )

    got = {
        r["o_orderkey"]: r["total_price"]
        for r in correlated_subquery_orders(spark, str(tmp_path)).collect()
    }
    assert got == {3: 400.0}
