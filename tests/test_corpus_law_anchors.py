"""Round-7 anchor batch 5: corpus-scaling laws and contingency-table
statistics, replayed independently.

- ``zipf_law_fit`` / ``heaps_law_fit``: the engine fits in log-log
  space with ``regr_*`` over a hierarchical rank / prefix-sum frame;
  the replay builds the (x, y) pairs by hand and solves ordinary least
  squares directly with numpy.
- ``chi2_lang_source_independence``: the engine uses the
  Σ o²·n/(r·c) − n identity over observed cells; the replay computes
  the textbook Σ (o−e)²/e over the FULL dense table (including
  zero-observed cells, which contribute e to that sum but 0 to the
  identity — the equivalence is the thing worth pinning).
- ``mutual_information_lang_source``: plain p·ln terms.
- ``modularity_brand_copurchase``: Q = intra/m − Σ d_c²/(4m²) replayed
  from a hand-built basket set with a known good/noise partition.
"""

from __future__ import annotations

import datetime
import math

import numpy as np
import pytest


def _ols(xs, ys):
    x = np.array(xs, dtype=float)
    y = np.array(ys, dtype=float)
    xm, ym = x.mean(), y.mean()
    slope = ((x - xm) * (y - ym)).sum() / ((x - xm) ** 2).sum()
    intercept = ym - slope * xm
    pred = intercept + slope * x
    ss_res = ((y - pred) ** 2).sum()
    ss_tot = ((y - ym) ** 2).sum()
    return slope, intercept, 1 - ss_res / ss_tot


def _write_docs(spark, tmp_path, texts):
    rows = [
        (i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")


def test_zipf_fit_matches_numpy_ols(spark, tmp_path):
    # A deliberately Zipf-ish corpus: term t_k appears ~12/k times.
    vocab = {f"t{k}": max(1, 12 // k) for k in range(1, 9)}
    words = [w for term, f in vocab.items() for w in [term] * f]
    # spread across 3 docs (split points arbitrary)
    texts = [
        " ".join(words[:10]),
        " ".join(words[10:20]),
        " ".join(words[20:]),
    ]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.text import zipf_law_fit

    row = zipf_law_fit(spark, str(tmp_path)).collect()[0]

    freqs = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [math.log(r) for r in range(1, len(freqs) + 1)]
    ys = [math.log(f) for _, f in freqs]
    slope, intercept, r2 = _ols(xs, ys)

    assert row["n_types"] == len(vocab)
    assert row["n_tokens"] == sum(vocab.values())
    assert row["zipf_slope"] == pytest.approx(round(slope, 6), abs=2e-6)
    assert row["zipf_intercept"] == pytest.approx(round(intercept, 6), abs=2e-6)
    assert row["r2"] == pytest.approx(round(r2, 6), abs=2e-6)
    # A 12/k frequency table must fit close to slope -1 with high r².
    assert -1.3 < slope < -0.7 and r2 > 0.9


def test_heaps_fit_matches_numpy_ols(spark, tmp_path):
    # Vocabulary growth with explicit repeats: later docs re-use early
    # terms, so the cumulative-type curve bends below the token line.
    texts = [
        "a b c d",              # 4 tokens, 4 new types
        "a b e f g",            # 5 tokens, 3 new
        "a c e h",              # 4 tokens, 1 new
        "b d f h i j",          # 6 tokens, 2 new
        "a a b b c c",          # 6 tokens, 0 new
    ]
    _write_docs(spark, tmp_path, texts)

    from scats_transis_kinesis_spark.plans.text import heaps_law_fit

    row = heaps_law_fit(spark, str(tmp_path)).collect()[0]

    seen, ct, cv = set(), 0, 0
    pts = []
    for t in texts:
        toks = t.split(" ")
        ct += len(toks)
        for w in toks:
            if w not in seen:
                seen.add(w)
                cv += 1
        pts.append((ct, cv))
    slope, intercept, r2 = _ols(
        [math.log(x) for x, _ in pts], [math.log(y) for _, y in pts]
    )

    assert row["n_docs"] == len(texts)
    assert row["n_tokens"] == ct == 25
    assert row["n_types"] == cv == 10
    assert row["heaps_beta"] == pytest.approx(round(slope, 6), abs=2e-6)
    assert row["heaps_logk"] == pytest.approx(round(intercept, 6), abs=2e-6)
    assert row["r2"] == pytest.approx(round(r2, 6), abs=2e-6)
    # Sub-linear growth: 0 < beta < 1.
    assert 0 < slope < 1


def test_chi2_matches_dense_textbook_replay(spark, tmp_path):
    # 3 langs x 2 sources with one EMPTY cell (fr never appears in s1):
    # the engine's sum(o²/e)−n identity must equal the textbook dense
    # Σ(o−e)²/e including the zero-observed cell's e term.
    counts = {
        ("en", "s0"): 30, ("en", "s1"): 10,
        ("de", "s0"): 5,  ("de", "s1"): 15,
        ("fr", "s0"): 8,  # ("fr","s1") absent
    }
    rows = []
    did = 0
    for (lang, src), c in counts.items():
        for _ in range(c):
            did += 1
            rows.append((did, "x", lang, src, 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.stats import (
        chi2_lang_source_independence,
    )
    from scats_transis_kinesis_spark.plans.stats import (
        mutual_information_lang_source,
    )

    row = chi2_lang_source_independence(spark, str(tmp_path)).collect()[0]

    langs = sorted({l for l, _ in counts})
    srcs = sorted({s for _, s in counts})
    n = sum(counts.values())
    rt = {l: sum(c for (l2, _), c in counts.items() if l2 == l) for l in langs}
    ct = {s: sum(c for (_, s2), c in counts.items() if s2 == s) for s in srcs}
    chi2 = 0.0
    for l in langs:
        for s in srcs:
            o = counts.get((l, s), 0)
            e = rt[l] * ct[s] / n
            chi2 += (o - e) ** 2 / e
    assert (row["n_docs"], row["n_langs"], row["n_sources"]) == (n, 3, 2)
    assert row["dof"] == 2
    # micros quantization of the per-cell identity terms bounds the
    # difference by ~#cells * 0.5e-6.
    assert row["chi2"] == pytest.approx(chi2, abs=1e-5)
    assert row["cramers_v"] == pytest.approx(
        math.sqrt(chi2 / (n * min(2, 1))), abs=1e-5
    )

    mi_row = mutual_information_lang_source(spark, str(tmp_path)).collect()[0]
    mi = sum(
        (c / n) * math.log(c * n / (rt[l] * ct[s]))
        for (l, s), c in counts.items()
    )
    h_l = -sum(
        (c / n) * math.log(rt[l] / n) for (l, s), c in counts.items()
    )
    h_s = -sum(
        (c / n) * math.log(ct[s] / n) for (l, s), c in counts.items()
    )
    assert mi_row["n_docs"] == n
    assert mi_row["mi_nats"] == pytest.approx(round(mi, 6), abs=2e-6)
    assert mi_row["h_lang"] == pytest.approx(round(h_l, 6), abs=2e-6)
    assert mi_row["h_source"] == pytest.approx(round(h_s, 6), abs=2e-6)
    # Information-theory sanity: 0 <= MI <= min(H).
    assert 0 < mi < min(h_l, h_s)


def test_modularity_matches_newman_girvan_replay(spark, tmp_path):
    # Two brand "communities" {1,2,3} and {4,5,6} with dense intra
    # edges and one bridge basket (3,4).
    baskets = {
        10: [1, 2], 20: [2, 3], 30: [1, 3],
        40: [4, 5], 50: [5, 6], 60: [4, 6],
        70: [3, 4],  # bridge
    }
    brand = {1: "B1", 2: "B1", 3: "B1", 4: "B2", 5: "B2", 6: "B2"}
    orders = [(ok, datetime.datetime(1995, 7, 1)) for ok in baskets]
    lines = [(ok, pk) for ok, pks in baskets.items() for pk in pks]
    parts = [(pk, b) for pk, b in brand.items()]
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        parts, "p_partkey long, p_brand string"
    ).write.parquet(f"{tmp_path}/part.parquet")

    from scats_transis_kinesis_spark.plans.graph import (
        modularity_brand_copurchase,
    )

    row = modularity_brand_copurchase(spark, str(tmp_path)).collect()[0]

    edges = set()
    for pks in baskets.values():
        ps = sorted(set(pks))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    m = len(edges)
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    d_c = {}
    for vtx, d in deg.items():
        d_c[brand[vtx]] = d_c.get(brand[vtx], 0) + d
    intra = sum(1 for u, v in edges if brand[u] == brand[v])
    q = intra / m - sum(x * x for x in d_c.values()) / (4.0 * m * m)

    assert row["n_vertices"] == 6
    assert row["n_edges"] == m == 7
    assert row["n_communities"] == 2
    assert row["intra_share_micros"] == intra * 1_000_000 // m
    assert row["modularity"] == pytest.approx(round(q, 6), abs=2e-6)
    # The planted two-community structure must yield clearly positive Q.
    assert q > 0.3
