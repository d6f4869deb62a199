"""Semantic anchors for the round-5 classification/projection/layout
batch (``pipeline_queries16``).

- Naive Bayes: a two-language corpus where each held-out doc contains
  only its own language's token — smoothing and priors worked by hand,
  the confusion matrix must be exactly diagonal.
- JL projection: a pair differing in exactly one coordinate — sign
  projections preserve a single-coordinate displacement EXACTLY
  (every |±1 · δ|² = δ²), so the distortion ratio is exactly 1e6.
- RLE audit: four hand-ordered rows per column with run counts
  countable on fingers.
"""

from __future__ import annotations

import datetime


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def test_naive_bayes_diagonal_on_separable_corpus(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import (
        naive_bayes_lang_eval,
    )

    rows = [
        # train (even ids): 'aa' says only "x", 'bb' says only "y"
        (0, "x x", "aa", "s", 3),
        (2, "y", "bb", "s", 1),
        # test (odd ids)
        (1, "x", "aa", "s", 1),
        (3, "y", "bb", "s", 1),
    ]
    _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r["true_lang"], r["pred_lang"]): r["n_docs"]
        for r in naive_bayes_lang_eval(spark, str(tmp_path)).collect()
    }
    # Hand check for doc 1 ("x"): V = 2, aa has 2 train tokens, bb 1.
    # score(aa) = ln(1/2) + ln((2+1)/(2+2)) ≈ −0.981
    # score(bb) = ln(1/2) + ln((0+1)/(1+2)) ≈ −1.792  → aa wins.
    assert got == {("aa", "aa"): 1, ("bb", "bb"): 1}


def test_jl_single_coordinate_displacement_is_exact(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.retrieval import (
        jl_projection_distortion_audit,
    )

    zero = [0.0] * 64
    shifted = [2.0] + [0.0] * 63
    rows = [(0, zero, 0), (1, shifted, 0)]
    _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    [r] = jl_projection_distortion_audit(spark, str(tmp_path)).collect()
    # d2o = 2000², every projected coordinate moves by ±2000 →
    # d2p = 16·2000² → ratio exactly 1.
    assert r["n_pairs"] == 1
    assert r["mean_ratio_micros"] == 1_000_000
    assert r["p_within_20_micros"] == 1_000_000
    assert r["min_ratio_micros"] == 1_000_000
    assert r["max_ratio_micros"] == 1_000_000


def test_rle_hand_counted_runs(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.storage import (
        rle_compression_audit,
    )

    d = datetime.datetime
    # One partition ('A','F'), shipdate order d1<d2<d3<d4:
    # quantity [1,1,2,2] → 2 runs; discount [.1,.2,.2,.2] → 2 runs;
    # tax constant → 1 run; months Jan,Jan,Feb,Feb → 2 runs.
    rows = [
        (1, 1, "A", "F", 1.0, 0.1, 0.05, d(1995, 1, 1)),
        (2, 1, "A", "F", 1.0, 0.2, 0.05, d(1995, 1, 2)),
        (3, 1, "A", "F", 2.0, 0.2, 0.05, d(1995, 2, 1)),
        (4, 1, "A", "F", 2.0, 0.2, 0.05, d(1995, 2, 2)),
    ]
    _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_linestatus string, l_quantity double, l_discount double, "
        "l_tax double, l_shipdate timestamp",
    )
    got = {
        r["col_name"]: (r["n_rows"], r["n_runs"], r["rle_ratio_micros"])
        for r in rle_compression_audit(spark, str(tmp_path)).collect()
    }
    assert got == {
        "l_quantity": (4, 2, 2_000_000),
        "l_discount": (4, 2, 2_000_000),
        "l_tax": (4, 1, 4_000_000),
        "ship_month": (4, 2, 2_000_000),
    }
