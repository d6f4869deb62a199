"""Hand-computed anchor for mrr_quality_by_source."""

from __future__ import annotations


def test_mrr_first_hit_positions_by_hand(spark, tmp_path):
    # Per-source ranking is by n_chars DESC (doc_id tiebreak).
    # src A: ranks [de(300), en(200), en(100)] -> first 'en' at rank 2.
    # src B: ranks [en(500), de(400)]          -> first 'en' at rank 1.
    # src C: ranks [de(50)]                    -> no relevant, RR = 0.
    rows = [
        (1, "A", "de", 300),
        (2, "A", "en", 200),
        (3, "A", "en", 100),
        (4, "B", "en", 500),
        (5, "B", "de", 400),
        (6, "C", "de", 50),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.curation import (
        mrr_quality_by_source,
    )

    r = mrr_quality_by_source(spark, str(tmp_path)).collect()[0]
    assert r["n_queries"] == 3
    assert r["n_with_relevant"] == 2
    # RR ppm: A -> round(1e6/2) = 500000, B -> 1000000, C -> 0.
    assert r["total_rr_ppm"] == 1_500_000
    assert r["mrr_ppm"] == 500_000  # round(1.5e6 / 3)
