"""Semantic anchors for the round-5 linear-algebra/planning batch
(``pipeline_queries18``).

- PCA: a cloud with ALL variance on axis 1 — the covariance is
  diag(1e9 milli-units, 0, …), the power iteration locks onto e1 in
  one step, so loadings are exactly (1000, 0, …, 0), λ = 1e9 milli,
  and the explained-variance share is exactly 1e6 micros.
- Stitch: a 5-token document whose trailing 3 tokens are another
  document's leading 3 — exactly one ordered pair; a 2-token doc is
  excluded (no boundary window).
- Bloom: n = 1000 at 1% FPP gives m = ⌈9585.058…⌉ = 9586 bits and
  k = round(6.644) = 7 — the textbook table values.
- LSH S-curve: the test recomputes the repeated-squaring chain in
  Python floats (identical IEEE ops) and demands equality to the
  micros digit; monotonicity in s is asserted for every combo.
"""

from __future__ import annotations


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def test_pca_axis_aligned_cloud(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        pca_top_component,
    )

    plus = [1.0] + [0.0] * 63
    minus = [-1.0] + [0.0] * 63
    rows = [(0, plus, 0), (1, minus, 0), (2, plus, 0), (3, minus, 0)]
    _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    got = pca_top_component(spark, str(tmp_path)).collect()
    assert len(got) == 64
    by_dim = {r["dim"]: r for r in got}
    assert by_dim[1]["loading_milli"] == 1000
    assert all(by_dim[d]["loading_milli"] == 0 for d in range(2, 65))
    # cov_11 = E[v²] − mean² = 1000² − 0 = 1e6 → cv = 1e9 milli-units.
    assert by_dim[1]["lambda_milli"] == 1_000_000_000
    assert by_dim[1]["evr_micros"] == 1_000_000


def test_doc_stitch_finds_split_pair_and_skips_short_docs(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.dedup import (
        doc_stitch_overlap,
    )

    rows = [
        (1, "a b c d e", "en", "s", 9),
        (2, "c d e x y", "en", "s", 9),
        (3, "x y", "en", "s", 3),  # too short for a 3-token window
    ]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        (r["left_doc_id"], r["right_doc_id"], r["overlap_text"])
        for r in doc_stitch_overlap(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 2, "c d e")]


def test_bloom_textbook_sizing(spark, tmp_path):
    from datetime import date

    from scats_transis_kinesis_spark.plans.storage import (
        bloom_filter_sizing,
    )

    orders = [(i, i, date(1995, 1, 1)) for i in range(1000)]
    _write(
        spark, tmp_path, "orders", orders,
        "o_orderkey long, o_custkey long, o_orderdate date",
    )
    li = [(i, i % 10 + 1, i % 4 + 1) for i in range(100)]
    _write(
        spark, tmp_path, "lineitem", li,
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    got = {
        (r["col_name"], r["fpp_label"]): r
        for r in bloom_filter_sizing(spark, str(tmp_path)).collect()
    }
    r = got[("o_custkey", "1pct")]
    # m = ceil(1000 * ln(100) / ln²2) = ceil(9585.058…) = 9586
    assert (r["ndv"], r["m_bits"], r["k_hashes"]) == (1000, 9586, 7)
    assert r["bits_per_key_milli"] == 9586
    r = got[("l_partkey", "0_1pct")]
    # m = ceil(10 * ln(1000) / ln²2) = ceil(143.775…) = 144, k = round(9.98) = 10
    assert (r["ndv"], r["m_bits"], r["k_hashes"]) == (10, 144, 10)


def test_lsh_s_curve_matches_python_ieee_chain(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.dedup import (
        _LSH_COMBOS,
        _LSH_SIMS,
        lsh_parameter_planner,
    )

    def sq_chain(x: float, e: int) -> float:
        while e > 1:
            x = x * x
            e //= 2
        return x

    def sqrt_chain(x: float, r: int) -> float:
        while r > 1:
            x = x**0.5
            r //= 2
        return x

    got = {
        (r["bands"], r["rows_per_band"], r["sim_centi"]): r
        for r in lsh_parameter_planner(spark, str(tmp_path)).collect()
    }
    assert len(got) == len(_LSH_COMBOS) * len(_LSH_SIMS)
    for bands, rpb in _LSH_COMBOS:
        probs = []
        for sc in _LSH_SIMS:
            s = float(sc) / 100
            p = 1 - sq_chain(1 - sq_chain(s, rpb), bands)
            r = got[(bands, rpb, sc)]
            assert r["collide_prob_micros"] == round(1_000_000 * p)
            assert r["threshold_micros"] == round(
                1_000_000 * sqrt_chain(1.0 / bands, rpb)
            )
            probs.append(r["collide_prob_micros"])
        assert probs == sorted(probs)  # S-curve is monotone in s
