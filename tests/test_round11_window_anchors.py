"""Window-ahead anchors for the round-11 driver-fill cohort.

The 8 round-4-stale queries that did not fit round 10's 50 slots lead
round 11's fill (registry.py window comment).  Five already carry
dedicated replay anchors (novelty-decay, mixture plan/materialize,
calibration, OOV); the three below had no test pinning their DECISION
points, so this file replays them in plain Python BEFORE the driver
re-samples them — the same window-ahead pattern as
test_round10_window_anchors.py.

- ``emb_hard_negatives``: a same-label near-duplicate is EXCLUDED no
  matter how similar (the label inequality rides the join, not the
  ranking), ties break on negative_id, and exactly K negatives emerge
  per query.
- ``embedding_label_margin``: a planted mislabeled vector gets a
  NEGATIVE margin (it sits closer to the other class's centroid), a
  well-placed vector a positive one; the own-label centroid includes
  the vector itself (the statistic is an audit, not LOO).
- ``length_bucketed_batches``: the bucket boundary is floor-division
  (exactly-16-token docs open bucket 1), a 9th doc in a bucket starts
  a second batch, padding waste is max·n − sum with efficiency exactly
  1.0 for a uniform batch, and packing follows doc_id order.
"""

from __future__ import annotations

import math

import numpy as np


def _round_half(x: float, nd: int = 6) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def _cos(a, b) -> float:
    return _round_half(
        float(np.dot(a, b) / (np.sqrt(np.dot(a, a)) * np.sqrt(np.dot(b, b))))
    )


def _write_embeddings(spark, path, rows):
    """rows: (vec_id, vector, label) with float32-exact values."""
    spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v], lab) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{path}/embeddings.parquet")


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{path}/documents.parquet")


def test_hard_negatives_exclude_same_label_and_tiebreak(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.retrieval import (
        HN_K,
        HN_QUERY_IDS,
        emb_hard_negatives,
    )

    # Label 0: queries 0..4 point along e0 with tiny distinct jitter.
    # Vector 10 (label 0) is NEAR-IDENTICAL to query 0 — the most
    # similar vector in the corpus, and it must NOT appear (same
    # label).  Vectors 20..27 (label 1) fan out at increasing angles;
    # 26 and 27 are exact DUPLICATES so their cosines tie and the id
    # breaks it.  8 label-1 vectors > HN_K=5, so ranking is exercised.
    rows = []
    for q in HN_QUERY_IDS:
        rows.append((q, [8.0, 0.25 * q, 0.0, 0.0], 0))
    rows.append((10, [8.0, 0.0, 0.0625, 0.0], 0))  # same-label near-dup
    for j in range(8):
        vec = [8.0 - j, float(j), 0.0, 0.25]
        if j == 7:
            vec = [8.0 - 6, 6.0, 0.0, 0.25]  # duplicate of j=6 (id 27)
        rows.append((20 + j, vec, 1))
    _write_embeddings(spark, tmp_path, rows)

    f64 = {
        i: np.array(np.array(v, dtype=np.float32), dtype=np.float64)
        for i, v, _ in rows
    }
    labels = {i: lab for i, _, lab in rows}
    want = {}
    for q in HN_QUERY_IDS:
        negs = [i for i in f64 if labels[i] != labels[q]]
        top = sorted(negs, key=lambda i: (-_cos(f64[q], f64[i]), i))[:HN_K]
        for i in top:
            want[(q, i)] = (labels[i], _cos(f64[q], f64[i]))
    got = {
        (r["query_id"], r["negative_id"]): (
            r["negative_label"],
            r["cosine_sim"],
        )
        for r in emb_hard_negatives(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Decision points: the same-label near-duplicate never appears,
    # every query returns exactly HN_K negatives, and the planted
    # exact-duplicate pair ties -> the SMALLER id (26) ranks; whether
    # 27 also makes top-5 is up to the ranking, but 26 must precede it.
    assert all(i != 10 for (_, i) in got)
    for q in HN_QUERY_IDS:
        assert sum(1 for (qq, _) in got if qq == q) == HN_K
    sims = {i: s for (q, i), (_, s) in got.items() if q == 0}
    if 27 in sims:
        assert 26 in sims and sims[26] == sims[27]


def test_label_margin_sign_detects_planted_mislabel(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.retrieval import (
        embedding_label_margin,
    )

    # Two tight classes on orthogonal axes; vector 9 carries label 0
    # but sits ON the label-1 axis — the mislabel the margin screen
    # exists to catch.  Values are f32-exact quarters.
    rows = [
        (0, [4.0, 0.0, 0.25, 0.0], 0),
        (1, [4.0, 0.25, 0.0, 0.0], 0),
        (2, [4.0, 0.0, 0.0, 0.25], 0),
        (5, [0.0, 4.0, 0.25, 0.0], 1),
        (6, [0.25, 4.0, 0.0, 0.0], 1),
        (7, [0.0, 4.0, 0.0, 0.25], 1),
        (9, [0.25, 4.0, 0.25, 0.0], 0),  # planted mislabel
    ]
    _write_embeddings(spark, tmp_path, rows)

    f64 = {
        i: np.array(np.array(v, dtype=np.float32), dtype=np.float64)
        for i, v, _ in rows
    }
    labels = {i: lab for i, _, lab in rows}
    cents = {}
    for lab in set(labels.values()):
        mem = [f64[i] for i in f64 if labels[i] == lab]
        cents[lab] = np.array(
            [
                _round_half(float(sum(v[j] for v in mem)) / len(mem))
                for j in range(4)
            ]
        )
    want = {}
    for i in f64:
        own = _cos(f64[i], cents[labels[i]])
        other = max(
            _cos(f64[i], c) for lab, c in cents.items() if lab != labels[i]
        )
        want[i] = (labels[i], own, other, _round_half(own - other))
    got = {
        r["vec_id"]: (
            r["label"],
            r["own_sim"],
            r["best_other_sim"],
            r["margin"],
        )
        for r in embedding_label_margin(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Decision points: the mislabel is the ONLY negative margin, and
    # the well-labeled vectors are all positive.  (The label-0 centroid
    # includes vector 9 itself — the audit is not leave-one-out — and
    # the margin still goes negative, which is what makes the screen
    # usable without a second pass.)
    assert want[9][3] < 0
    for i in (0, 1, 2, 5, 6, 7):
        assert want[i][3] > 0


def test_length_bucketed_batches_boundaries_and_packing(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.curation import (
        LB_BATCH_SIZE,
        LB_BUCKET_WIDTH,
        length_bucketed_batches,
    )

    assert (LB_BUCKET_WIDTH, LB_BATCH_SIZE) == (16, 8)
    # 9 docs of 15 tokens (bucket 0 -> one full batch of 8 + one of 1),
    # 1 doc of EXACTLY 16 tokens (the floor boundary -> bucket 1),
    # 2 docs of 17 and 31 tokens (bucket 1's padding arithmetic).
    docs = []
    for i in range(9):
        docs.append((i, " ".join(["w"] * 15)))
    docs.append((20, " ".join(["w"] * 16)))
    docs.append((21, " ".join(["w"] * 17)))
    docs.append((22, " ".join(["w"] * 31)))
    _write_documents(
        spark, tmp_path, [(d, t, "en", "web", len(t)) for d, t in docs]
    )
    got = {
        (r["bucket"], r["batch_seq"]): (
            r["n_docs"],
            r["max_len"],
            r["sum_len"],
            r["padding_waste"],
            r["efficiency"],
        )
        for r in length_bucketed_batches(spark, str(tmp_path)).collect()
    }
    assert got == {
        # bucket 0: 9 uniform docs -> 8-doc batch at efficiency exactly
        # 1.0 (zero waste), then the 1-doc overflow batch (also 1.0 —
        # a singleton pads to itself).
        (0, 0): (8, 15, 120, 0, 1.0),
        (0, 1): (1, 15, 15, 0, 1.0),
        # bucket 1: the 16-token doc crossed the floor boundary and
        # packs with 17 and 31; padding waste = 31*3 - 64 = 29.
        (1, 0): (3, 31, 64, 29, round(64 / 93, 6)),
    }
