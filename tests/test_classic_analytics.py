"""Semantic anchors for the round-5 classic-analytics batch.

The driver's hash gate proves Spark and DuckDB agree; these pin that
the numbers MEAN what the docstrings claim, on constructed inputs with
closed-form answers:

- Kaplan–Meier: three customers (two events, one censored at the
  horizon) → the exact product-limit steps in integer micros.
- HITS: a 2×2 bipartite graph walked by hand through both normalized
  rounds.
- Sweep-line concurrency: three overlapping fulfillment windows whose
  daily concurrency profile is countable on fingers.
- Markov stationary: the Spark iterate must equal a pure-Python replay
  of the integer-micros recurrence (per-term flooring).
- SSSP: a weighted path graph where the two-basket edge is cheaper
  than the one-basket edge.
- Grid density: two separated blobs (one spanning two adjacent cells)
  plus a sparse noise point → exact cluster/cell/point counts and the
  min-cell-id labels.
- Mutual information: a perfectly dependent 2×2 table scores
  MI = H = ln 2; an independent table scores MI = 0.
- Apriori triples: one frequent triple with hand-computed support,
  confidence, and lift micros.
"""

from __future__ import annotations

import datetime

import pytest

ORDERS = "o_orderkey long, o_custkey long, o_orderdate timestamp"
LINES = "l_orderkey long, l_partkey long"


def _write(spark, path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/{name}.parquet")


def _d(y, m, d):
    return datetime.datetime(y, m, d)


# ------------------------------------------------------- Kaplan–Meier


def test_kaplan_meier_hand_computed_steps(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.stats import (
        kaplan_meier_retention,
    )

    rows = [
        # customer 1: single order, duration 0 weeks, event
        (1, 1, _d(2024, 1, 1)),
        # customer 2: span 14 days = 2 weeks, event
        (2, 2, _d(2024, 1, 1)),
        (3, 2, _d(2024, 1, 15)),
        # customer 3: last order AT the horizon → censored, 52 weeks
        (4, 3, _d(2024, 1, 1)),
        (5, 3, _d(2024, 12, 30)),
    ]
    _write(spark, tmp_path, "orders", rows, ORDERS)
    got = {
        r["duration_weeks"]: (r["n_risk"], r["n_events"], r["surv_micros"])
        for r in kaplan_meier_retention(spark, str(tmp_path)).collect()
    }
    # t=0: 3 at risk, 1 event → S = floor(1e6·2/3) = 666666
    assert got[0] == (3, 1, 666_666)
    # t=2: 2 at risk, 1 event → S = floor(666666·1/2) = 333333
    assert got[2] == (2, 1, 333_333)
    # t=52: censored only → S unchanged
    assert got[52] == (1, 0, 333_333)


# ---------------------------------------------------------------- HITS


def test_hits_two_by_two_bipartite_hand_walk(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.graph import (
        hits_hubs_authorities,
    )

    orders = [
        (1, 1, _d(1995, 3, 1)),
        (2, 2, _d(1995, 3, 2)),
    ]
    lines = [(1, 10), (1, 20), (2, 10)]  # c1 buys {10,20}; c2 buys {10}
    _write(spark, tmp_path, "orders", orders, ORDERS)
    _write(spark, tmp_path, "lineitem", lines, LINES)
    got = {
        (r["role"], r["node_id"]): r["score_micros"]
        for r in hits_hubs_authorities(spark, str(tmp_path)).collect()
    }
    # round 1: a(10)=1e6, a(20)=5e5; h(c1)=1e6, h(c2)=floor(1e12/1.5e6)
    # round 2: a(10)=1e6, a(20)=floor(1e12/1666666)=600000
    #          h(c1)=1e6 (raw 1.6e6), h(c2)=floor(1e12/1.6e6)=625000
    assert got[("authority", 10)] == 1_000_000
    assert got[("authority", 20)] == 600_000
    assert got[("hub", 1)] == 1_000_000
    assert got[("hub", 2)] == 625_000


# --------------------------------------------------- sweep-line peaks


def test_concurrency_peaks_hand_profile(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.timeseries import (
        order_concurrency_peaks,
    )

    # A: Jan 1 → ships Jan 3; B: Jan 2 → ships Jan 2; C: Jan 2 → Jan 4
    orders = [(1, 1, _d(2024, 1, 1)), (2, 1, _d(2024, 1, 2)), (3, 1, _d(2024, 1, 2))]
    lines = [
        (1, 100, _d(2024, 1, 2)),
        (1, 101, _d(2024, 1, 3)),
        (2, 100, _d(2024, 1, 2)),
        (3, 100, _d(2024, 1, 4)),
    ]
    _write(spark, tmp_path, "orders", orders, ORDERS)
    _write(
        spark,
        tmp_path,
        "lineitem",
        lines,
        "l_orderkey long, l_partkey long, l_shipdate timestamp",
    )
    got = {
        str(r["day"]): r["concurrent"]
        for r in order_concurrency_peaks(spark, str(tmp_path)).collect()
    }
    # day1: {A}=1  day2: {A,B,C}=3  day3: {A,C}=2  day4: {C}=1  day5: 0
    assert got["2024-01-02"] == 3
    assert got["2024-01-03"] == 2
    assert got["2024-01-01"] == 1
    assert got["2024-01-04"] == 1


# --------------------------------------------------- Markov stationary


def test_markov_stationary_matches_pure_python_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.timeseries import (
        MARKOV_ROUNDS,
        markov_stationary_events,
    )

    base = _d(2024, 5, 1)
    seqs = {1: ["A", "A", "A", "B"], 2: ["B", "A"], 3: ["A", "C", "A"]}
    rows, eid = [], 0
    for uid, seq in seqs.items():
        for i, et in enumerate(seq):
            rows.append(
                (eid, base + datetime.timedelta(minutes=i), uid, et)
            )
            eid += 1
    _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    # pure-Python replay of the documented recurrence
    trans: dict[tuple[str, str], int] = {}
    for seq in seqs.values():
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1
    states = sorted({e for seq in seqs.values() for e in seq})
    tot = {s: sum(c for (a, _), c in trans.items() if a == s) for s in states}
    p = {
        (a, b): (c * 1_000_000) // tot[a] for (a, b), c in trans.items()
    }
    v = {s: 1_000_000 // len(states) for s in states}
    for _ in range(MARKOV_ROUNDS):
        nxt = {s: 0 for s in states}
        for (a, b), pm in p.items():
            nxt[b] += (v[a] * pm) // 1_000_000
        v = nxt
    got = {
        r["event_type"]: r["stationary_micros"]
        for r in markov_stationary_events(spark, str(tmp_path)).collect()
    }
    assert got == v


# ------------------------------------------------------------------ SSSP


def test_sssp_weighted_path_graph(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.graph import (
        sssp_weighted_copurchase,
    )

    # Baskets (1995): {1,2} twice, {2,3} once → w(1,2)=1+1e6//2,
    # w(2,3)=1+1e6.  Hub = vertex 2 (degree 2).
    orders = [(k, 1, _d(1995, 2, k)) for k in (1, 2, 3)]
    lines = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 2), (3, 3)]
    _write(spark, tmp_path, "orders", orders, ORDERS)
    _write(spark, tmp_path, "lineitem", lines, LINES)
    got = {
        r["vertex"]: r["dist_micros"]
        for r in sssp_weighted_copurchase(spark, str(tmp_path)).collect()
    }
    assert got == {2: 0, 1: 500_001, 3: 1_000_001}


# ---------------------------------------------------------- grid density


def test_grid_density_blobs_merge_and_noise(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.retrieval import (
        GRID_OFF,
        GRID_STRIDE,
        grid_density_clusters,
    )

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 6

    rows = []
    vid = 0
    # blob A: 4 pts in cell (1,1) + 4 pts in ADJACENT cell (2,1) → one
    # cluster, 2 cells, 8 points, label = min cell id
    for _ in range(4):
        rows.append((vid, vec(0.05, 0.05)))
        vid += 1
    for _ in range(4):
        rows.append((vid, vec(0.085, 0.05)))
        vid += 1
    # blob B: 4 pts in far cell (-8,-8)
    for _ in range(4):
        rows.append((vid, vec(-0.31, -0.31)))
        vid += 1
    # noise: 1 pt alone in cell (7,7)
    rows.append((vid, vec(0.3, 0.3)))
    _write(
        spark,
        tmp_path,
        "embeddings",
        rows,
        "vec_id long, embedding array<float>",
    )
    got = {
        r["cluster_id"]: (r["n_cells"], r["n_points"])
        for r in grid_density_clusters(spark, str(tmp_path)).collect()
    }
    cid_a = (1 + GRID_OFF) * GRID_STRIDE + 1 + GRID_OFF
    cid_b = (-8 + GRID_OFF) * GRID_STRIDE + (-8 + GRID_OFF)
    assert got[cid_a] == (2, 8)
    assert got[cid_b] == (1, 4)
    assert got[-1] == (1, 1)
    assert set(got) == {cid_a, cid_b, -1}


# ----------------------------------------------------- mutual information


def test_mutual_information_dependent_and_independent(spark, tmp_path):
    import math

    from scats_transis_kinesis_spark.plans.stats import (
        mutual_information_lang_source,
    )

    def docs(cells):
        rows, did = [], 0
        for (lang, source), n in cells.items():
            for _ in range(n):
                rows.append((did, lang, source))
                did += 1
        return rows

    schema = "doc_id long, lang string, source string"
    # perfectly dependent: lang determines source
    _write(
        spark,
        tmp_path,
        "documents",
        docs({("en", "web"): 10, ("de", "book"): 10}),
        schema,
    )
    r = mutual_information_lang_source(spark, str(tmp_path)).collect()[0]
    ln2 = round(math.log(2), 6)
    assert r["n_docs"] == 20
    assert r["mi_nats"] == ln2 == r["h_lang"] == r["h_source"]
    # independent: uniform 2×2 → MI = 0, entropies stay ln 2
    _write(
        spark,
        tmp_path,
        "documents",
        docs(
            {
                ("en", "web"): 5,
                ("en", "book"): 5,
                ("de", "web"): 5,
                ("de", "book"): 5,
            }
        ),
        schema,
    )
    r = mutual_information_lang_source(spark, str(tmp_path)).collect()[0]
    assert r["mi_nats"] == 0.0
    assert r["h_lang"] == ln2 == r["h_source"]


# ------------------------------------------------------- Apriori triples


def test_association_triples_hand_metrics(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.graph import (
        association_rules_triples,
    )

    # customers 1-3 buy {1,2,3}; customers 4-5 buy {1,2} → the only
    # frequent triple is (1,2,3) with c_abc=3; c_ab(1,2)=5; c(3)=3;
    # n_baskets=5.
    orders, lines, ok = [], [], 0
    for cust, parts in [(c, [1, 2, 3]) for c in (1, 2, 3)] + [
        (c, [1, 2]) for c in (4, 5)
    ]:
        ok += 1
        orders.append((ok, cust, _d(1997, 1, ok)))
        lines.extend((ok, p) for p in parts)
    _write(spark, tmp_path, "orders", orders, ORDERS)
    _write(spark, tmp_path, "lineitem", lines, LINES)
    rows = association_rules_triples(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["pk_a"], r["pk_b"], r["pk_c"], r["c_abc"]) == (1, 2, 3, 3)
    assert r["support_micros"] == (3 * 1_000_000) // 5
    assert r["confidence_micros"] == (3 * 1_000_000) // 5
    # lift = 1e6·c_abc·n / (c_ab·c_c) = 1e6·3·5 // (5·3) = 1e6
    assert r["lift_micros"] == 1_000_000


def test_association_triples_whale_basket_is_projected_losslessly(
    spark, tmp_path
):
    """The round-6 L1 frequent-item projection (SCALE.md §6.18) must be
    LOSSLESS: a whale basket full of one-off parts contributes nothing
    to any frequent itemset (every one-off part has count 1 < min
    support), so the mined triples are identical to the no-whale case —
    but the whale still counts in the support denominator (n_baskets is
    over ALL baskets, not the projected ones).  The oracle mirror can't
    catch a wrong projection applied to both engines; this hand anchor
    can."""
    from scats_transis_kinesis_spark.plans.graph import (
        association_rules_triples,
    )

    orders, lines, ok = [], [], 0
    baskets = [(c, [1, 2, 3]) for c in (1, 2, 3)] + [
        (c, [1, 2]) for c in (4, 5)
    ]
    # Customer 6 is the whale: 200 distinct parts bought once each
    # (part ids 1000+ never repeat across baskets -> all infrequent).
    baskets.append((6, list(range(1000, 1200))))
    for cust, parts in baskets:
        ok += 1
        orders.append((ok, cust, _d(1997, 1, min(ok, 28))))
        lines.extend((ok, p) for p in parts)
    _write(spark, tmp_path, "orders", orders, ORDERS)
    _write(spark, tmp_path, "lineitem", lines, LINES)
    rows = association_rules_triples(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["pk_a"], r["pk_b"], r["pk_c"], r["c_abc"]) == (1, 2, 3, 3)
    # n_baskets = 6 now (the whale counts), so support shifts 3/5 -> 3/6.
    assert r["support_micros"] == (3 * 1_000_000) // 6
    assert r["confidence_micros"] == (3 * 1_000_000) // 5
    # lift = 1e6·c_abc·n / (c_ab·c_c) = 1e6·3·6 // (5·3) = 1.2e6
    assert r["lift_micros"] == (3 * 1_000_000 * 6) // (5 * 3)


def test_association_triples_rejects_partkey_past_2_pow_32(spark, tmp_path):
    """Pairs of partkeys shuffle as one packed long; a partkey >= 2^32
    would alias another pair, so the query must fail instead of
    returning rows.  Part 2^32 + 3 is bought by three customers, so it
    is frequent and reaches the pair-packing stage."""
    from scats_transis_kinesis_spark.plans.graph import (
        association_rules_triples,
    )

    big = (1 << 32) + 3
    orders, lines, ok = [], [], 0
    for cust, parts in [(c, [1, 2, big]) for c in (1, 2, 3)] + [
        (c, [1, 2]) for c in (4, 5)
    ]:
        ok += 1
        orders.append((ok, cust, _d(1997, 1, ok)))
        lines.extend((ok, p) for p in parts)
    _write(spark, tmp_path, "orders", orders, ORDERS)
    _write(spark, tmp_path, "lineitem", lines, LINES)
    with pytest.raises(Exception, match=r"outside \[0, 2\^31\)"):
        association_rules_triples(spark, str(tmp_path)).collect()


# ----------------------------------------------------------- TextRank


def test_textrank_replays_rounded_recurrence(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import (
        TR_DAMPING,
        TR_HH,
        TR_ITERS,
        textrank_keywords,
    )

    texts = ["a b " * 250 + "a", "b c " * 250 + "b"]
    _write(
        spark,
        tmp_path,
        "documents",
        list(enumerate(texts)),
        "doc_id long, text string",
    )
    # pure-Python replay: tokenize, count adjacent heavy-hitter pairs,
    # run the per-round-rounded recurrence
    from collections import Counter

    tok_docs = [t.split(" ") for t in texts]
    counts = Counter(t for d in tok_docs for t in d)
    vocab = {t for t, c in counts.items() if c >= TR_HH}
    co: Counter = Counter()
    for d in tok_docs:
        for x, y in zip(d, d[1:]):
            if x in vocab and y in vocab and x != y:
                co[(min(x, y), max(x, y))] += 1
    edges: dict[tuple[str, str], float] = {}
    for (u, v), w in co.items():
        edges[(u, v)] = edges.get((u, v), 0) + w
        edges[(v, u)] = edges.get((v, u), 0) + w
    nodes = sorted({u for u, _ in edges})
    out = {u: sum(w for (a, _), w in edges.items() if a == u) for u in nodes}
    base = round((1 - TR_DAMPING) / len(nodes), 6)
    rank = {u: round(1.0 / len(nodes), 6) for u in nodes}
    for _ in range(TR_ITERS):
        nxt = {}
        for n in nodes:
            acc = sum(
                rank[u] * w / out[u] for (u, v), w in edges.items() if v == n
            )
            nxt[n] = round(base + TR_DAMPING * acc, 6)
        rank = nxt
    got = {
        r["token"]: r["rank"]
        for r in textrank_keywords(spark, str(tmp_path)).collect()
    }
    assert got == rank
    # the bridging token must outrank the peripherals
    assert got["b"] > got["a"] and got["b"] > got["c"]


# ------------------------------------------------------ burst detection


def test_burst_margin_flags_the_spike(spark, tmp_path):
    import math

    from scats_transis_kinesis_spark.plans.timeseries import (
        BURST_GAMMA,
        BURST_RATE_FACTOR,
        burst_detection_daily,
    )

    base = datetime.datetime(2024, 6, 1)
    counts = [1] * 10 + [10] * 5  # quiet spell then a hot spell
    rows, eid = [], 0
    for d, c in enumerate(counts):
        for k in range(c):
            rows.append(
                (eid, base + datetime.timedelta(days=d, minutes=k), 1, "X")
            )
            eid += 1
    _write(
        spark,
        tmp_path,
        "events",
        rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    # replay: identical double math for the cost quantization, then
    # exact integer min-plus
    r0 = sum(counts) / len(counts)
    r1 = BURST_RATE_FACTOR * r0

    def k0(c):
        return round(1_000_000 * (r0 - c * math.log(r0)))

    def k1(c):
        return round(1_000_000 * (r1 - c * math.log(r1)))

    v0, v1 = k0(counts[0]), k1(counts[0]) + BURST_GAMMA
    expect = [(v0 - v1, v0 > v1)]
    for c in counts[1:]:
        v0, v1 = (
            k0(c) + min(v0, v1 + BURST_GAMMA),
            k1(c) + min(v1, v0 + BURST_GAMMA),
        )
        expect.append((v0 - v1, v0 > v1))
    got = sorted(
        (r["day"], r["burst_margin_micros"], r["is_burst"])
        for r in burst_detection_daily(spark, str(tmp_path)).collect()
    )
    assert [(m, b) for _, m, b in got] == expect
    # the hot spell (and only it, after the switch lag) is flagged
    assert not any(b for _, _, b in got[:10])
    assert all(b for _, _, b in got[11:])


# -------------------------------------------------- winnowing guarantee


def test_winnowing_shared_run_guarantee_and_disjoint_silence(
    spark, tmp_path
):
    from scats_transis_kinesis_spark.plans.dedup import (
        WIN_K,
        WIN_W,
        winnowing_dup_pairs,
    )

    shared = " ".join(f"s{i}" for i in range(WIN_W + WIN_K - 1))
    docs = [
        (1, "p1 p2 p3 p4 " + shared + " q1 q2 q3 q4"),
        (2, "r1 r2 r3 r4 " + shared + " t1 t2 t3 t4"),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
    ]
    _write(spark, tmp_path, "documents", docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in winnowing_dup_pairs(spark, str(tmp_path)).collect()
    }
    # a shared run of w+k-1 tokens GUARANTEES a shared fingerprint
    assert got.get((1, 2), 0) >= 1
    # doc 3 shares no vocabulary with anyone → no pair rows
    assert all(3 not in pair for pair in got)
