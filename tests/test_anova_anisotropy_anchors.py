"""Round-7 anchor batch 12: the last two FP-watchlist members without
an independent replay — one-way ANOVA and the embedding anisotropy
audit.

- ``anova_f_priority_spend``: the engine ships exact integer
  sufficient statistics (floor-mean + remainder correction); the
  replay computes SSB/SSW/F directly from the raw per-group samples
  with numpy — a wrong correction identity cannot survive.
- ``embedding_anisotropy_audit``: centroid, norms, cosines and all
  five per-label summaries replayed in plain Python with the same
  round-before-aggregate staging.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PRIO_SHORT = ("urgent", "high", "medium", "notspec", "low")


def _round_half(x: float, nd: int) -> float:
    scale = 10**nd
    v = x * scale
    r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
    return r / scale


def test_anova_f_matches_direct_replay(spark, tmp_path):
    groups = {
        "1-URGENT": [900, 950, 880, 920, 910],
        "2-HIGH": [700, 720, 690, 710],
        "3-MEDIUM": [500, 510, 490, 505, 495, 500],
        "4-NOT SPECIFIED": [480, 520, 500],
        "5-LOW": [300, 310, 295, 305, 290],
    }
    rows = [(g, float(v)) for g, vals in groups.items() for v in vals]
    spark.createDataFrame(
        rows, "o_orderpriority string, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        anova_f_priority_spend,
    )

    row = anova_f_priority_spend(spark, str(tmp_path)).collect()[0]

    n_total = sum(len(v) for v in groups.values())
    gm = sum(sum(v) for v in groups.values()) / n_total
    means = {g: np.mean(v) for g, v in groups.items()}
    ssb = sum(len(v) * (means[g] - gm) ** 2 for g, v in groups.items())
    ssw = sum(
        sum((x - means[g]) ** 2 for x in v) for g, v in groups.items()
    )
    f = (ssb / 4.0) / (ssw / (n_total - 5))
    eta = ssb / (ssb + ssw)

    assert row["n_total"] == n_total == 23
    assert row["f_stat"] == pytest.approx(round(f, 6), rel=1e-6)
    assert row["eta_sq"] == pytest.approx(round(eta, 6), abs=2e-6)
    for g, s in zip(PRIORITIES, PRIO_SHORT):
        assert row[f"mean_{s}"] == pytest.approx(
            round(float(means[g]), 4), abs=1e-4
        ), g
    # The groups are strongly separated: F huge, eta^2 near 1.
    assert f > 100 and eta > 0.9


def test_anisotropy_matches_centroid_cosine_replay(spark, tmp_path):
    # Label 0 vectors cluster in one orthant (high cosine to centroid);
    # label 1 contains one vector pointing AWAY from the centroid so
    # frac_negative_cos is exercised.  float32-exact components.
    vecs = [
        (0, [1.0, 1.0, 0.5], 0),
        (1, [0.75, 1.25, 0.25], 0),
        (2, [1.25, 0.75, 0.5], 0),
        (3, [0.5, 1.0, 1.0], 1),
        (4, [-1.0, -1.0, -0.75], 1),   # anti-centroid
        (5, [1.5, 0.25, 0.25], 1),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    from scats_transis_kinesis_spark.plans.retrieval import (
        embedding_anisotropy_audit,
    )

    got = {
        r["label"]: (
            r["n_vectors"], r["avg_norm"], r["avg_cos_centroid"],
            r["min_cos_centroid"], r["max_cos_centroid"],
            r["frac_negative_cos"],
        )
        for r in embedding_anisotropy_audit(spark, str(tmp_path)).collect()
    }

    vs = {vid: [float(np.float32(x)) for x in emb] for vid, emb, _ in vecs}
    lab = {vid: l for vid, _, l in vecs}
    dims = 3
    cent = [
        _round_half(sum(v[i] for v in vs.values()) / len(vs), 6)
        for i in range(dims)
    ]
    cnorm = math.sqrt(sum(c * c for c in cent))
    norm6 = {
        vid: _round_half(math.sqrt(sum(x * x for x in v)), 6)
        for vid, v in vs.items()
    }
    cos6 = {
        vid: _round_half(
            sum(v[i] * cent[i] for i in range(dims))
            / (math.sqrt(sum(x * x for x in v)) * cnorm),
            6,
        )
        for vid, v in vs.items()
    }
    for label in (0, 1):
        members = [vid for vid in vs if lab[vid] == label]
        want = (
            len(members),
            _round_half(sum(norm6[m] for m in members) / len(members), 6),
            _round_half(sum(cos6[m] for m in members) / len(members), 6),
            min(cos6[m] for m in members),
            max(cos6[m] for m in members),
            _round_half(
                sum(1.0 for m in members if cos6[m] < 0) / len(members), 6
            ),
        )
        g = got[label]
        assert g[0] == want[0], label
        for gi, wi in zip(g[1:], want[1:]):
            assert gi == pytest.approx(wi, abs=1e-9), label
    # The planted anti-centroid vector drives label 1's negative share.
    assert got[1][5] == pytest.approx(round(1 / 3, 6), abs=1e-9)
    assert got[0][5] == 0.0
    assert got[0][2] > 0.9  # clustered orthant -> anisotropic
