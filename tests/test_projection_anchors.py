"""Round-7 anchor batch 11: random-projection and resampling audits.

- ``jl_projection_distortion_audit``: the ±1 projection, exact integer
  squared distances, and all four summary statistics replayed in plain
  Python over a hand-built 64-dim corpus (the constant sign matrix is
  part of the published contract and is read from the module).
- ``poisson_bootstrap_se``: per-(replicate, row) Poisson weights
  recomputed via hashlib from the same md5 uniforms and CDF
  thresholds; replicate means, bootstrap SE, and the analytic SE
  replayed end-to-end.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _round_half(x: float) -> int:
    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def test_jl_distortion_matches_integer_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.retrieval import (
        _JL_IN_DIM,
        _JL_OUT_DIM,
        _JL_SIGNS,
        jl_projection_distortion_audit,
    )

    # 10 vectors, 64 dims, float32-exact multiples of 0.125 in [0, 4).
    rng = np.random.RandomState(11)
    vecs = []
    for vid in range(10):
        comps = rng.randint(0, 32, size=_JL_IN_DIM) * 0.125
        vecs.append((vid, [float(np.float32(c)) for c in comps], vid % 3))
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    row = jl_projection_distortion_audit(spark, str(tmp_path)).collect()[0]

    mv = {
        vid: [_round_half(float(np.float32(x)) * 1000) for x in emb]
        for vid, emb, _ in vecs
    }
    proj = {
        vid: [
            sum(m[i] * _JL_SIGNS[j][i] for i in range(_JL_IN_DIM))
            for j in range(_JL_OUT_DIM)
        ]
        for vid, m in mv.items()
    }
    ratios = []
    for vid in range(9):
        a, b = vid, vid + 1
        d2p = sum((proj[a][j] - proj[b][j]) ** 2 for j in range(_JL_OUT_DIM))
        d2o = sum((mv[a][i] - mv[b][i]) ** 2 for i in range(_JL_IN_DIM))
        if d2o > 0:
            ratios.append(_round_half(1e6 * d2p / (_JL_OUT_DIM * d2o)))

    assert row["n_pairs"] == len(ratios) == 9
    assert row["mean_ratio_micros"] == sum(ratios) // len(ratios)
    within = sum(1 for r in ratios if abs(r - 1_000_000) <= 200_000)
    assert row["p_within_20_micros"] == within * 1_000_000 // len(ratios)
    assert row["min_ratio_micros"] == min(ratios)
    assert row["max_ratio_micros"] == max(ratios)
    # JL with k=16 on random 64-dim points: the mean ratio should land
    # in the right ballpark (this is a sanity band, not the anchor).
    assert 400_000 < sum(ratios) // len(ratios) < 2_500_000


def test_poisson_bootstrap_matches_hashlib_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        _PB_CDF,
        _PB_REPLICATES,
        poisson_bootstrap_se,
    )

    prices = [100.0 + 7 * i for i in range(40)]
    rows = [(i + 1, p) for i, p in enumerate(prices)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    row = poisson_bootstrap_se(spark, str(tmp_path)).collect()[0]

    xd = [round(p) for p in prices]
    means = []
    for b in range(_PB_REPLICATES):
        swx = sw = 0
        for okey, v in zip(range(1, len(xd) + 1), xd):
            u = _md5_32(f"pb:{b}:{okey}") / 4294967296.0
            wt = 5
            for k in range(len(_PB_CDF) - 1, -1, -1):
                if u < _PB_CDF[k]:
                    wt = k
            swx += wt * v
            sw += wt
        if sw > 0:
            means.append(_round_half(1000 * (swx / sw)))
    nb = len(means)
    sm, qm = sum(means), sum(m * m for m in means)
    se_boot = math.sqrt((qm - sm * sm / nb) / (nb - 1)) / 1000
    n, s, q = len(xd), sum(xd), sum(v * v for v in xd)
    se_analytic = math.sqrt(((q - s * s / n) / (n - 1)) / n)

    assert row["n_rows"] == n
    assert row["n_replicates"] == nb == _PB_REPLICATES
    assert row["mean_dollars"] == pytest.approx(round(s / n, 4), abs=1e-4)
    assert row["se_boot_dollars"] == pytest.approx(round(se_boot, 4), abs=1e-4)
    assert row["se_analytic_dollars"] == pytest.approx(
        round(se_analytic, 4), abs=1e-4
    )
    # The audit's own contract: bootstrap SE should approximate the
    # analytic SE (generous band — 40 rows, 32 replicates).
    assert 0.4 * se_analytic < se_boot < 2.5 * se_analytic
