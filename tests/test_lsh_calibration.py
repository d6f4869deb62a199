"""Recall calibration for the banded sign-LSH (embedding near-dup).

Companion to the minhash estimator calibration and the sketch property
tests: the oracle replays the identical banding math, so it can never
detect a banding scheme whose RECALL has silently degraded (wrong band
count, bits read from the wrong dims, a sign flip).  This test measures
candidate recall on planted pairs at a controlled cosine and pins it to
the closed-form prediction.

Analytics: with vectors built as u = c·v + sqrt(1-c²)·w over iid
Gaussian dims, each (u_d, v_d) is bivariate normal with correlation c,
so per-dim sign agreement is the Sheppard quadrant probability
p = 1 − acos(c)/π, independent across dims.  An 8-bit band collides
with p^8 and any of the 4 bands with R(c) = 1 − (1 − p^8)^4.  At
c = 0.9: p ≈ 0.8565, R ≈ 0.746.  The draw is seeded (deterministic run
to run); the assertion window is ±4σ of the binomial spread so a
re-rolled seed would still pass, while a band/bit-plumbing bug (which
moves recall by tens of points) fails.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F


def _predicted_recall(c: float, bits: int, bands: int) -> float:
    p = 1.0 - math.acos(c) / math.pi
    return 1.0 - (1.0 - p**bits) ** bands


def test_sign_lsh_candidate_recall_matches_theory(spark):
    from scats_transis_kinesis_spark.operators.similarity import (
        LSH_BANDS,
        LSH_BITS,
        sign_bucket as _sign_bucket,
    )

    dim = 64  # the embeddings-table layout (first 32 dims carry bits)
    c = 0.9
    n_pairs = 300
    rng = np.random.default_rng(405)
    rows = []
    for i in range(n_pairs):
        v = rng.standard_normal(dim)
        w = rng.standard_normal(dim)
        u = c * v + math.sqrt(1 - c * c) * w
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in u]))
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _sign_bucket(F.col("v"), b).alias("bucket"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    buckets = df.select("vec_id", F.explode(bands).alias("bb")).select(
        "vec_id", "bb.band", "bb.bucket"
    )
    a = buckets.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    b = buckets.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    cand = {
        (r["id_a"], r["id_b"])
        for r in (
            a.join(b, ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        ).collect()
    }
    hit = sum((2 * i, 2 * i + 1) in cand for i in range(n_pairs))
    recall = hit / n_pairs
    pred = _predicted_recall(c, LSH_BITS, LSH_BANDS)
    sigma = math.sqrt(pred * (1 - pred) / n_pairs)
    assert abs(recall - pred) <= 4 * sigma + 0.02, (
        f"sign-LSH recall {recall:.3f} vs predicted {pred:.3f} "
        f"(±{4 * sigma + 0.02:.3f}) — banding plumbing suspect"
    )
    # Unrelated vectors (cosine ~ 0) must rarely collide: predicted
    # ~1-(1-0.5^8)^4 ≈ 1.55% per random pair; measure on shifted pairs.
    wrong = sum((2 * i, 2 * i + 2) in cand for i in range(n_pairs - 1))
    assert wrong / (n_pairs - 1) <= 0.06


def test_ivf_full_probe_equals_bruteforce_and_partial_recall_floor(spark):
    """Structural IVF guarantees the declared-semantics oracle cannot
    check: probing ALL centroids must reproduce the brute-force top-k
    EXACTLY (any deviation means the partitioner drops or duplicates
    vectors), and the production nprobe keeps a sane recall floor on
    the real corpus."""
    from scats_transis_kinesis_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_bucketed,
    )
    from scats_transis_kinesis_spark.sources.loaders import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    qids = [0, 1, 2, 3, 4]
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, qids, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bucketed(
            emb, qids, k=5, num_centroids=16, nprobe=16
        ).collect()
    }
    assert full == brute
    partial = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bucketed(
            emb, qids, k=5, num_centroids=16, nprobe=4
        ).collect()
    }
    recall = len(partial & brute) / len(brute)
    assert recall >= 0.5, f"IVF nprobe=4 recall {recall:.2f} collapsed"
