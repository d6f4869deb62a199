"""Round-7 anchor batch 7: the training-layout / optimizer-statistics
audits, replayed with hashlib and plain arithmetic.

- ``shard_shuffle_quality``: md5 shard assignment + md5 within-shard
  order recomputed via hashlib; adjacent same-source pairs counted by
  hand against the uniform-order expectation.
- ``feature_hashing_collision_audit``: exact bucket occupancy per hash
  width from hashlib md5 prefixes.
- ``selectivity_estimate_audit``: the uniform-within-band
  interpolation replayed band-by-band against exact predicate counts.
"""

from __future__ import annotations

import hashlib
import math

import pytest


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _md5_64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_shard_shuffle_quality_matches_hashlib_replay(spark, tmp_path):
    # 60 docs over 3 sources in CONTIGUOUS runs by doc_id — the
    # worst-case input a shuffle must decorrelate; the md5 ordering
    # should bring the observed adjacent-same rate near expectation.
    sources = ["s0"] * 30 + ["s1"] * 20 + ["s2"] * 10
    rows = [(i, "t", "en", src, 1) for i, src in enumerate(sources)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.curation import (
        _SHUFFLE_SHARDS,
        shard_shuffle_quality,
    )

    row = shard_shuffle_quality(spark, str(tmp_path)).collect()[0]

    shards = {}
    for i, src in enumerate(sources):
        sh = _md5_32(f"shard:{i}") % _SHUFFLE_SHARDS
        shards.setdefault(sh, []).append((_md5_64(f"shuf:{i}"), i, src))
    same = adj = 0
    for members in shards.values():
        members.sort()
        for (_, _, a), (_, _, b) in zip(members, members[1:]):
            adj += 1
            same += a == b
    n = len(sources)
    same_num = sum(
        c * (c - 1) for c in (sources.count(s) for s in set(sources))
    )
    observed = same * 1_000_000 // adj if adj else 0
    expected = same_num * 1_000_000 // (n * (n - 1))

    assert row["n_docs"] == n
    assert row["n_adjacent"] == adj
    assert row["same_adjacent"] == same
    assert row["observed_same_micros"] == observed
    assert row["expected_same_micros"] == expected
    assert row["ratio_micros"] == observed * 1_000_000 // expected
    # The hash order must have actually decorrelated the runs: without
    # shuffling, 57/59 adjacent pairs are same-source (~966k micros);
    # expectation is ~389k.  Allow generous noise around expectation.
    assert observed < 800_000


def test_feature_hashing_occupancy_matches_hashlib_replay(spark, tmp_path):
    # 120 distinct terms; with 1024 buckets a handful of collisions are
    # plausible, with 16384 almost surely none — but the anchor asserts
    # the EXACT md5-derived occupancy, whatever it is.
    terms = [f"tok{i}" for i in range(100)] + [f"word{i}" for i in range(20)]
    texts = [" ".join(terms[i::4]) for i in range(4)]  # 4 docs cover all
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.storage import (
        _HASH_DIMS,
        feature_hashing_collision_audit,
    )

    got = {
        r["dim"]: (r["n_terms"], r["occupied"], r["n_collided"],
                   r["collision_rate_micros"])
        for r in feature_hashing_collision_audit(spark, str(tmp_path)).collect()
    }

    hvs = [_md5_32(t) for t in terms]
    assert len(set(terms)) == 120
    for d in _HASH_DIMS:
        occ = len({h % d for h in hvs})
        coll = 120 - occ
        assert got[d] == (120, occ, coll, coll * 1_000_000 // 120), d
    # Monotone capacity: wider tables never collide more.
    occs = [got[d][1] for d in sorted(_HASH_DIMS)]
    assert occs == sorted(occs)


def test_selectivity_estimates_match_interpolation_replay(spark, tmp_path):
    # Prices spanning 0..100k dollars with a dense low band and a
    # sparse high tail, so the three audited predicates see different
    # interpolation regimes (full bands, partial band, empty range).
    prices = (
        [float(p) for p in range(500, 9_500, 500)]        # 18 in low tail
        + [float(p) for p in range(30_000, 60_000, 2_000)]  # 15 mid band
        + [95_000.0, 99_000.0]                              # 2 high tail
        + [15_000.0, 70_000.0, 100_000.0]                   # strays
    )
    rows = [(i, p) for i, p in enumerate(prices)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_extendedprice double"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    from scats_transis_kinesis_spark.plans.storage import (
        _SEL_BANDS,
        _SEL_PREDICATES,
        selectivity_estimate_audit,
    )

    got = {
        r["pred"]: (r["lo_dollars"], r["hi_dollars"], r["est_rows"],
                    r["actual_rows"], r["rel_err_micros"])
        for r in selectivity_estimate_audit(spark, str(tmp_path)).collect()
    }

    vals = [round(p) for p in prices]
    lo = min(vals)
    w = max((max(vals) - lo) / _SEL_BANDS, 1e-9)
    bands = {}
    for v in vals:
        b = min(_SEL_BANDS - 1, math.floor((v - lo) / w))
        bands[b] = bands.get(b, 0) + 1
    for pred, plo, phi in _SEL_PREDICATES:
        est_micro = 0
        for b, n in bands.items():
            blo, bhi = lo + b * w, lo + (b + 1) * w
            frac = max(0.0, min((min(float(phi), bhi) - max(float(plo), blo)) / w, 1.0))
            est_micro += math.floor(1_000_000 * n * frac + 0.5)
        actual = sum(1 for v in vals if plo <= v < phi)
        rel = (
            abs(est_micro - actual * 1_000_000) // actual if actual > 0 else None
        )
        assert got[pred] == (plo, phi, est_micro // 1_000_000, actual, rel), pred
    # Model sanity: the uniform-within-band estimate of the dense low
    # tail lands within 50% of truth on this spiky distribution.
    low = got["low_tail"]
    assert low[3] > 0 and abs(low[2] - low[3]) <= low[3] // 2 + 1
