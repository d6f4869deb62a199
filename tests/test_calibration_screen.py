"""Semantic anchors for the round-5 calibration/screening batch
(``pipeline_queries20``).

- PAV: three populated bands with rates (1, 0, 1) — the classic
  violation; pool-adjacent-violators merges the first two to 1/2 and
  leaves the third at 1, verified against the minimax identity by
  hand.
- Conformal: calibration scores are exactly i² (i = 1..9), so the
  90% quantile is the 9th smallest (k = ⌈10·0.9⌉ = 9) = 81; a test
  set with scores {25, 81, 100, 400} covers exactly 2/4.
- Stump: a perfectly separable corpus — every interior threshold
  earns the full parent-impurity drop (0.5 → 500000 micros) and all
  are flagged best.
"""

from __future__ import annotations


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def test_pav_pools_adjacent_violators(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.stats import (
        pav_calibration_bins,
    )

    rows = []
    # band 0 (xd=0): rate 1; band 5 (xd=45): rate 0; band 9 (xd=90): rate 1
    for i, (xd, status) in enumerate(
        [(0.0, "F"), (0.0, "F"), (45.0, "O"), (45.0, "O"), (90.0, "F"), (90.0, "F")]
    ):
        rows.append((i, "1-URGENT", xd, status, date(1995, 1, 1)))
    _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_orderpriority string, o_totalprice double, "
        "o_orderstatus string, o_orderdate date",
    )
    got = {
        r["band"]: (r["rate_micros"], r["iso_micros"])
        for r in pav_calibration_bins(spark, str(tmp_path)).collect()
    }
    assert got == {
        0: (1_000_000, 500_000),
        5: (0, 500_000),
        9: (1_000_000, 1_000_000),
    }


def test_conformal_quantile_and_coverage(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        conformal_coverage_audit,
    )

    def vec(milli: int) -> list[float]:
        return [milli / 1000.0] + [0.0] * 63

    rows = []
    # train third (vec_id % 3 == 0): centroid is exactly (1000, 0, ...)
    for vid in (0, 3):
        rows.append((vid, vec(1000), 0))
    # calibration third: scores i² for i = 1..9
    for idx, i in enumerate(range(1, 10)):
        rows.append((1 + 3 * idx, vec(1000 + i), 0))
    # test third: scores 25, 81, 100, 400 -> coverage 2/4 at qhat = 81
    for idx, i in enumerate((5, 9, 10, 20)):
        rows.append((2 + 3 * idx, vec(1000 + i), 0))
    _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    [r] = conformal_coverage_audit(spark, str(tmp_path)).collect()
    assert (r["n_cal"], r["k"], r["qhat"]) == (9, 9, 81)
    assert (r["n_test"], r["covered"]) == (4, 2)
    assert r["coverage_micros"] == 500_000


def test_stump_perfectly_separable_feature(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        decision_stump_split,
    )

    rows = [(i, "x", "zz", "s", i + 1) for i in range(5)] + [
        (10 + i, "x", "en", "s", 95 + i) for i in range(5)
    ]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = decision_stump_split(spark, str(tmp_path)).collect()
    assert len(got) == 9
    # Every interior cut separates the classes: parent Gini 0.5, child 0.
    assert all(5 < r["threshold"] < 95 for r in got)
    assert all(r["gini_drop_micros"] == 500_000 for r in got)
    assert all(r["is_best"] for r in got)
    assert all(r["n_left"] == 5 and r["n_right"] == 5 for r in got)
