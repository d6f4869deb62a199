"""Round-9 addition replay anchors: exact-substring cut, IVF probe
audit, incremental span coverage.

Per the growth contract every addition ships with BOTH a DuckDB oracle
(structural cross-engine compare) and an independent plain-Python
replay — the replay catches a definition encoded wrong in both engines
identically, which the oracle compare structurally cannot.

- ``exact_substring_cut``: a corpus with one cross-doc repeated span,
  one untouched doc, and one fully duplicated doc pair; the cut is
  hand-replayed (kept text reconstruction, empty-string full cut,
  pass-through).
- ``exact_substring_cut_savings``: the per-source rollup of the same
  scenario, floor-micros savings included.
- ``ivf_probe_recall_audit``: a deterministic 24-vector corpus replayed
  end-to-end (float32 quantization, round-6 cosines, centroid-id and
  neighbor-id tiebreaks); the scenario provably loses recall at
  nprobe=1 and recall is monotone in nprobe (candidates only grow).
- ``incremental_span_coverage``: a span unique WITHIN base and WITHIN
  delta but repeated ACROSS the split must be caught by the merged
  inventory; a span repeated only inside one doc must not; and the
  incremental output equals repeated_span_coverage restricted to the
  delta docs on the same corpus.
"""

from __future__ import annotations

import numpy as np

SPAN_N = 5


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{path}/documents.parquet")


def _write_embeddings(spark, path, vecs):
    rows = [(i, [float(np.float32(x)) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{path}/embeddings.parquet")


# --- exact_substring_cut ---------------------------------------------------

_CUT_DOCS = [
    # (doc_id, text, source): docs 0/1 share a 5-token span mid-text,
    # doc 2 is untouched, docs 3/4 are full duplicates of each other.
    (0, "one two three four five six seven", "web"),
    (1, "zero one two three four five end", "web"),
    (2, "u1 u2 u3 u4 u5 u6", "book"),
    (3, "dup1 dup2 dup3 dup4 dup5", "cc"),
    (4, "dup1 dup2 dup3 dup4 dup5", "cc"),
]


def _replay_covered(docs):
    """doc_id -> set of covered 1-based positions (repeated-span def)."""
    toks = {d: t.split(" ") for d, t, _ in docs}
    span_docs: dict[str, set[int]] = {}
    for d, w in toks.items():
        for i in range(len(w) - SPAN_N + 1):
            span_docs.setdefault(" ".join(w[i : i + SPAN_N]), set()).add(d)
    rep = {g for g, ds in span_docs.items() if len(ds) >= 2}
    covered: dict[int, set[int]] = {d: set() for d in toks}
    for d, w in toks.items():
        for i in range(len(w) - SPAN_N + 1):
            if " ".join(w[i : i + SPAN_N]) in rep:
                covered[d].update(range(i + 1, i + SPAN_N + 1))
    return toks, covered


def test_exact_substring_cut_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.dedup import (
        exact_substring_cut,
    )

    _write_documents(
        spark, tmp_path, [(d, t, "en", s, len(t)) for d, t, s in _CUT_DOCS]
    )
    toks, covered = _replay_covered(_CUT_DOCS)
    want = {}
    for d, w in toks.items():
        kept = [tok for i, tok in enumerate(w, start=1) if i not in covered[d]]
        want[d] = (len(w), len(w) - len(kept), len(kept), " ".join(kept))
    got = {
        r["doc_id"]: (
            r["n_toks"],
            r["cut_tokens"],
            r["kept_tokens"],
            r["kept_text"],
        )
        for r in exact_substring_cut(spark, str(tmp_path)).collect()
    }
    assert got == want
    # The scenario's decision points, asserted against the replay so a
    # silently-degenerate corpus cannot pass:
    assert want[0] == (7, 5, 2, "six seven")  # mid-span cut, ends kept
    assert want[1][3] == "zero end"  # non-contiguous kept tokens rejoin
    assert want[2] == (6, 0, 6, "u1 u2 u3 u4 u5 u6")  # pass-through
    assert want[3] == (5, 5, 0, "")  # full duplicate -> empty string
    assert want[4] == (5, 5, 0, "")


def test_exact_substring_cut_savings_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.dedup import (
        exact_substring_cut_savings,
    )

    _write_documents(
        spark, tmp_path, [(d, t, "en", s, len(t)) for d, t, s in _CUT_DOCS]
    )
    toks, covered = _replay_covered(_CUT_DOCS)
    src = {d: s for d, _, s in _CUT_DOCS}
    want = {}
    for s in sorted(set(src.values())):
        ds = [d for d in toks if src[d] == s]
        total = sum(len(toks[d]) for d in ds)
        cut = sum(len(covered[d]) for d in ds)
        want[s] = (
            len(ds),
            sum(1 for d in ds if covered[d]),
            total,
            cut,
            total - cut,
            cut * 1_000_000 // total,
        )
    got = {
        r["source"]: (
            r["n_docs"],
            r["docs_cut"],
            r["total_tokens"],
            r["cut_tokens"],
            r["kept_tokens"],
            r["savings_micros"],
        )
        for r in exact_substring_cut_savings(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert want["cc"] == (2, 2, 10, 10, 0, 1_000_000)  # fully cut source
    assert want["book"] == (1, 0, 6, 0, 6, 0)  # untouched source


# --- ivf_probe_recall_audit ------------------------------------------------


def _ivf_vectors(n=24, dim=4):
    """Deterministic corpus: unit-ish vectors spread over dim axes with
    a small index-dependent rotation — no randomness, float32-exact."""
    vecs = []
    for i in range(n):
        v = [0.05 * ((i * 7 + j * 13) % 11 - 5) for j in range(dim)]
        v[i % dim] += 1.0
        vecs.append(v)
    return vecs


def _replay_ivf_audit(vecs, query_ids, probes, k, n_cents):
    f32 = [np.array(v, dtype=np.float32).astype(np.float64) for v in vecs]

    def cos(a, b):
        return round(
            float(np.dot(a, b) / (np.sqrt(np.dot(a, a)) * np.sqrt(np.dot(b, b)))),
            6,
        )

    cents = list(range(min(n_cents, len(f32))))
    assigned = {
        i: min(cents, key=lambda c: (-cos(f32[i], f32[c]), c))
        for i in range(len(f32))
    }
    cranks = {
        q: sorted(cents, key=lambda c: (-cos(f32[q], f32[c]), c))
        for q in query_ids
    }
    exact = {
        q: set(
            sorted(
                (i for i in range(len(f32)) if i != q),
                key=lambda i: (-cos(f32[q], f32[i]), i),
            )[:k]
        )
        for q in query_ids
    }
    want = {}
    for p in probes:
        n_cand = 0
        n_hits = 0
        for q in query_ids:
            probed = set(cranks[q][:p])
            cand = [
                i
                for i in range(len(f32))
                if i != q and assigned[i] in probed
            ]
            n_cand += len(cand)
            topk = sorted(cand, key=lambda i: (-cos(f32[q], f32[i]), i))[:k]
            n_hits += len(set(topk) & exact[q])
        want[p] = (
            n_cand,
            n_hits,
            n_hits * 1_000_000 // (len(query_ids) * k),
            n_cand * 1_000_000 // (len(query_ids) * (len(f32) - 1)),
        )
    return want


def test_ivf_probe_recall_audit_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.retrieval import (
        IVF_CENTROIDS,
        IVF_K,
        IVF_PROBES,
        ivf_probe_recall_audit,
    )
    from scats_transis_kinesis_spark.plans.retrieval import (
        _SIM_QUERY_IDS,
    )

    vecs = _ivf_vectors()
    _write_embeddings(spark, tmp_path, vecs)
    want = _replay_ivf_audit(
        vecs, list(_SIM_QUERY_IDS), IVF_PROBES, IVF_K, IVF_CENTROIDS
    )
    got = {
        r["nprobe"]: (
            r["n_candidates"],
            r["n_hits"],
            r["recall_micros"],
            r["cand_share_micros"],
        )
        for r in ivf_probe_recall_audit(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Scenario decision points: probing 1 cluster provably misses part
    # of the exact top-k, and recall is monotone in nprobe (the
    # candidate set only grows; anything in exact-topk that is a
    # candidate always survives the approximate top-k window).
    recalls = [want[p][2] for p in IVF_PROBES]
    assert recalls[0] < 1_000_000
    assert recalls == sorted(recalls)
    assert recalls[-1] > recalls[0]
    # Cost grows with probes too — the trade-off the table exists to show.
    shares = [want[p][3] for p in IVF_PROBES]
    assert shares == sorted(shares) and shares[0] < shares[-1]


# --- incremental_span_coverage ---------------------------------------------

_SPAN_DOCS = [
    # delta (doc_id % 5 == 0):
    (0, "a b c d e x y z w v"),   # span 'a b c d e' repeated ACROSS split
    (5, "f g h i j f g h i j"),   # repeated only WITHIN this one doc
    (10, "k l m n o p q r s t"),  # span shared with delta doc 15
    (15, "k l m n o zz1 zz2 zz3 zz4 zz5"),
    # base:
    (1, "a b c d e q1 q2 q3 q4 q5"),   # other side of the cross-split pair
    (2, "m1 m2 m3 m4 m5 m6 m7"),       # unique base doc
    (3, "n1 n2 n3 n4 n5 base base2 base3 base4 base5"),
    (4, "n1 n2 n3 n4 n5 other other2 other3 other4 other5"),  # base-only repeat
]


def test_incremental_span_coverage_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.streaming import (
        incremental_span_coverage,
    )

    _write_documents(
        spark,
        tmp_path,
        [(d, t, "en", "web", len(t)) for d, t in _SPAN_DOCS],
    )
    toks, covered = _replay_covered(
        [(d, t, "web") for d, t in _SPAN_DOCS]
    )
    want = {
        d: (
            len(toks[d]),
            len(covered[d]),
            round(len(covered[d]) / len(toks[d]), 6),
        )
        for d in toks
        if d % 5 == 0
    }
    got = {
        r["doc_id"]: (r["n_toks"], r["n_covered"], r["coverage"])
        for r in incremental_span_coverage(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Decision points: the cross-split repeat IS caught by the merged
    # inventory (each side alone sees the span once)...
    assert want[0] == (10, 5, 0.5)
    # ...a span repeated only inside one document is NOT (distinct-doc
    # count 1)...
    assert want[5] == (10, 0, 0.0)
    # ...and a delta-internal cross-doc repeat is caught too.
    assert want[10][1] == 5 and want[15][1] == 5


def test_incremental_matches_full_recompute_restriction(spark, tmp_path):
    """The merge path == repeated_span_coverage restricted to delta ids
    on the SAME corpus — the maintenance contract stated as an
    equality, not just hand numbers."""
    from scats_transis_kinesis_spark.plans.dedup import (
        repeated_span_coverage,
    )
    from scats_transis_kinesis_spark.plans.streaming import (
        incremental_span_coverage,
    )

    _write_documents(
        spark,
        tmp_path,
        [(d, t, "en", "web", len(t)) for d, t in _SPAN_DOCS],
    )
    full = {
        r["doc_id"]: (r["n_toks"], r["n_covered"], r["coverage"])
        for r in repeated_span_coverage(spark, str(tmp_path)).collect()
        if r["doc_id"] % 5 == 0
    }
    incr = {
        r["doc_id"]: (r["n_toks"], r["n_covered"], r["coverage"])
        for r in incremental_span_coverage(spark, str(tmp_path)).collect()
    }
    assert incr == full
