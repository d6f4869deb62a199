"""Closing round-5 anchors: the dictionary-encoding audit, plus
randomized parity checks for the three hierarchical global-rank
implementations added this round (Kruskal–Wallis midranks, the
conformal k-th order statistic, equi-depth boundaries).  The bucketed
prefix machinery has subtle edge cases (bucket boundaries, ties,
last-bucket clamping); each test mirrors the arithmetic in plain
Python over seeded random data and demands (near-)exact agreement.
"""

from __future__ import annotations

import math
import random
from datetime import date


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def test_dictionary_audit_hand_entropy(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.storage import (
        dictionary_encoding_audit,
    )

    rows = [
        (1, 1.0, 0.1, "A", "F"),
        (2, 1.0, 0.1, "A", "O"),
        (3, 2.0, 0.1, "A", "F"),
        (4, 2.0, 0.1, "B", "O"),
    ]
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_quantity double, l_discount double, "
        "l_returnflag string, l_linestatus string",
    )
    got = {
        r["col_name"]: r
        for r in dictionary_encoding_audit(spark, str(tmp_path)).collect()
    }
    # 50/50 binary columns: exactly 1 bit.
    assert got["l_quantity"]["entropy_micro_bits"] == 1_000_000
    assert got["l_linestatus"]["entropy_micro_bits"] == 1_000_000
    assert got["l_quantity"]["dict_bits"] == 1
    # Constant column: zero entropy, width floor 1 bit.
    assert got["l_discount"]["entropy_micro_bits"] == 0
    assert got["l_discount"]["dict_bits"] == 1
    # 3/1 split: 311278 + 500000 micro-bits, worked by hand.
    assert got["l_returnflag"]["entropy_micro_bits"] == 811_278
    assert got["l_returnflag"]["ndv"] == 2


def test_kruskal_hierarchical_ranks_match_python(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        kruskal_wallis_priority_spend,
    )

    rng = random.Random(7)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows = []
    data: dict[str, list[int]] = {p: [] for p in prios}
    for i in range(400):
        p = prios[rng.randrange(5)]
        # Clumpy values force ties ACROSS bucket boundaries.
        v = rng.randrange(0, 50) * 7
        data[p].append(v)
        rows.append((i, p, float(v), date(1995, 1, 1)))
    _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_orderpriority string, o_totalprice double, "
        "o_orderdate date",
    )
    [r] = kruskal_wallis_priority_spend(spark, str(tmp_path)).collect()

    # Python mirror with exact integer midranks.
    allv = sorted(v for vs in data.values() for v in vs)
    n = len(allv)
    from collections import Counter

    cnt = Counter(allv)
    less: dict[int, int] = {}
    run = 0
    for v in sorted(cnt):
        less[v] = run
        run += cnt[v]
    r2 = {v: 2 * less[v] + cnt[v] + 1 for v in cnt}
    s_term = 0.0
    for p in prios:
        r2j = sum(r2[v] for v in data[p])
        nj = len(data[p])
        s_term = s_term + (float(r2j) * r2j) / (4 * nj)
    tie = sum(c * c * c - c for c in cnt.values())
    h = ((12.0 / (float(n) * (n + 1))) * s_term - 3.0 * (n + 1)) / (
        1 - float(tie) / (float(n) * n * n - n)
    )
    assert abs(r["h_stat"] - h) < 2e-6
    assert r["n_total"] == 400
    for p, short in zip(prios, ("urgent", "high", "medium", "notspec", "low")):
        mean_rank = (sum(r2[v] for v in data[p]) / 2) / len(data[p])
        assert abs(r[f"mean_rank_{short}"] - mean_rank) < 2e-4


def test_conformal_kth_across_many_buckets(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        conformal_coverage_audit,
    )

    def vec(milli: int) -> list[float]:
        return [milli / 1000.0] + [0.0] * 63

    rows = [(0, vec(1000), 0), (3, vec(1000), 0)]  # train -> centroid 1000
    # 500 calibration scores i² (i = 1..500) spread non-uniformly over
    # the 32 range buckets; k = ceil(501*0.9) = 451 -> qhat = 451².
    for idx, i in enumerate(range(1, 501)):
        rows.append((1 + 3 * idx, vec(1000 + i), 0))
    for idx, i in enumerate((450, 451, 452, 1000)):
        rows.append((2 + 3 * idx, vec(1000 + i), 0))
    _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    [r] = conformal_coverage_audit(spark, str(tmp_path)).collect()
    assert (r["n_cal"], r["k"]) == (500, 451)
    assert r["qhat"] == 451 * 451
    assert (r["n_test"], r["covered"]) == (4, 2)  # 450², 451² covered


def test_equidepth_matches_sorted_order_statistics(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.storage import (
        equidepth_histogram_stats,
    )

    rng = random.Random(11)
    vals = [rng.randrange(0, 5000) for _ in range(2000)]
    rows = [(i, v / 100.0) for i, v in enumerate(vals)]
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_extendedprice double",
    )
    got = {
        r["decile"]: (r["k_rank"], r["boundary_cents"])
        for r in equidepth_histogram_stats(spark, str(tmp_path)).collect()
    }
    svals = sorted(vals)
    n = len(svals)
    for q in range(1, 10):
        k = (q * n + 9) // 10
        assert got[q] == (k, svals[k - 1])
