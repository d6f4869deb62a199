"""Hand-computed anchor for survivorship_golden_record.

Plants a known fuzzy cluster (two names at levenshtein 1 in the same
nation plus an exact twin) and a decoy that must NOT match (same name
shape, different nation), then pins the survivorship rules: canonical
name = lexicographic min, representative = highest balance (custkey
tiebreak), member count and balance total."""

from __future__ import annotations


def test_survivorship_rules_on_planted_cluster(spark, tmp_path):
    rows = [
        # cluster: 1 and 2 differ by one deleted char; 3 equals 1.
        (1, "acme corp", 7, 100.0, "BUILDING"),
        (2, "acme cor", 7, 300.0, "MACHINERY"),
        (3, "acme corp", 7, 300.0, "FURNITURE"),
        # decoy: levenshtein 1 from 'acme corp' but nation 8 -> blocked.
        (4, "acme corq", 8, 999.0, "AUTOMOBILE"),
        # singleton in nation 7, far from the cluster names.
        (5, "zzz unrelated", 7, 50.0, "HOUSEHOLD"),
    ]
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long, "
        "c_acctbal double, c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")

    from scats_transis_kinesis_spark.plans.dedup import (
        survivorship_golden_record,
    )

    recs = survivorship_golden_record(spark, str(tmp_path)).collect()
    # Only RESOLVED entities publish a golden record (clusters come from
    # match pairs; unmatched rows never enter CC) — so the decoy in
    # nation 8 and the unrelated name must produce NO record at all.
    assert len(recs) == 1
    big = recs[0]
    assert big["n_members"] == 3
    assert big["canonical_name"] == "acme cor"      # lexicographic min
    # Rep = highest balance; 2 and 3 tie at 300.0 -> custkey 2 wins.
    assert big["rep_segment"] == "MACHINERY"
    assert big["rep_acctbal"] == 300.0
    assert big["total_acctbal"] == 700.0
