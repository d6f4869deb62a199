"""Round-8 batch-B replay anchors: temperature sampling + greedy coverage.

Per the growth contract every addition ships with BOTH a DuckDB oracle
(structural cross-engine compare) and an independent plain-Python
replay anchor — the anchor catches a definition encoded wrong in both
engines identically, which the oracle compare structurally cannot.

- ``temperature_sampling_plan``: language token totals chosen as
  perfect squares so every sqrt weight is an exact integer and the
  whole plan is hand-checkable; includes the self-consistency fact
  that a language whose natural share survives smoothing unchanged has
  boost exactly 1.0.
- ``greedy_source_coverage``: a corpus where the greedy ORDER provably
  differs from the naive per-source coverage ranking (a redundant
  4-shingle source loses to a novel 3-shingle and a novel 1-shingle
  source), plus a zero-gain lexicographic tiebreak in the last round.
"""

from __future__ import annotations

import hashlib
import math


def _write_documents(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")


# --- temperature_sampling_plan ------------------------------------------

# lang -> list of per-doc token counts; totals are perfect squares so
# floor(sqrt(total) * 1e6) is exact integer arithmetic end-to-end.
_LANG_DOCS = {
    "en": [10, 6],   # 16 tokens -> w 4e6
    "fr": [9],       # 9  tokens -> w 3e6
    "de": [4],       # 4  tokens -> w 2e6
    "zh": [1],       # 1  token  -> w 1e6
}


def _replay_temperature(lang_tokens: dict[str, int]):
    total = sum(lang_tokens.values())
    w = {g: math.floor(math.sqrt(t) * 1_000_000) for g, t in lang_tokens.items()}
    sw = sum(w.values())
    out = {}
    for g, t in lang_tokens.items():
        nat = t * 1_000_000 // total
        samp = w[g] * 1_000_000 // sw
        boost = samp * 1_000_000 // nat if nat > 0 else None
        out[g] = (t, nat, samp, boost)
    return out


def test_temperature_sampling_replay(spark, tmp_path):
    rows = []
    i = 0
    for lang, counts in _LANG_DOCS.items():
        for n in counts:
            text = " ".join(f"{lang}{i}t{k}" for k in range(n))
            rows.append((i, text, lang, "web", len(text)))
            i += 1
    _write_documents(spark, tmp_path, rows)
    from scats_transis_kinesis_spark.plans.curation import (
        temperature_sampling_plan,
    )

    lang_tokens = {g: sum(c) for g, c in _LANG_DOCS.items()}
    want = _replay_temperature(lang_tokens)
    got = {
        r["lang"]: (
            r["lang_tokens"],
            r["natural_micros"],
            r["sample_micros"],
            r["boost_micros"],
        )
        for r in temperature_sampling_plan(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Hand-checked facts (total 30 tokens, sw 1e7): fr's natural share
    # is 300000 micros and its smoothed rate is also 300000 — boost is
    # EXACTLY 1.0; the head language is down-sampled, the tail language
    # is up-sampled 3x+.
    assert want["fr"] == (9, 300000, 300000, 1_000_000)
    assert want["en"][2] < want["en"][1]          # head down-sampled
    assert want["zh"][2] > want["zh"][1]          # tail up-sampled
    assert want["zh"][3] == 3_000_030             # floor(1e5*1e6/33333)


# --- greedy_source_coverage ---------------------------------------------

COVER_BUCKETS = 4096

# source -> 3-token docs (one shingle each).  s_reda/s_redb are strict
# subsets of s_big; s_novel/s_tiny are disjoint from everything else.
_SOURCE_DOCS = {
    "s_big": ["w1 w2 w3", "w4 w5 w6", "w7 w8 w9",
              "wa wb wc", "wd we wf", "wg wh wi"],
    "s_reda": ["w1 w2 w3", "w4 w5 w6", "w7 w8 w9", "wa wb wc"],
    "s_redb": ["w1 w2 w3", "w4 w5 w6"],
    "s_novel": ["x1 x2 x3", "x4 x5 x6", "x7 x8 x9"],
    "s_tiny": ["y1 y2 y3"],
}


def _bucket(shingle: str) -> int:
    return int(hashlib.md5(shingle.encode()).hexdigest()[:15], 16) % COVER_BUCKETS


def _replay_greedy(cover: dict[str, set[int]], rounds: int):
    nu = len(set().union(*cover.values()))
    covered: set[int] = set()
    picked: list[str] = []
    out = []
    for r in range(1, rounds + 1):
        gains = {
            s: len(b - covered) for s, b in cover.items() if s not in picked
        }
        top = min(gains, key=lambda s: (-gains[s], s))
        covered |= cover[top]
        picked.append(top)
        out.append(
            (r, top, gains[top], len(covered), len(covered) * 1_000_000 // nu)
        )
    return out


def test_greedy_source_coverage_replay(spark, tmp_path):
    rows = []
    i = 0
    for src, docs in _SOURCE_DOCS.items():
        for text in docs:
            rows.append((i, text, "en", src, len(text)))
            i += 1
    _write_documents(spark, tmp_path, rows)
    from scats_transis_kinesis_spark.plans.curation import (
        greedy_source_coverage,
    )

    cover = {
        s: {_bucket(t) for t in docs} for s, docs in _SOURCE_DOCS.items()
    }
    want = _replay_greedy(cover, rounds=4)
    got = [
        (
            r["sel_round"],
            r["source"],
            r["gain_buckets"],
            r["covered_buckets"],
            r["coverage_micros"],
        )
        for r in greedy_source_coverage(spark, str(tmp_path))
        .orderBy("sel_round")
        .collect()
    ]
    assert got == want
    # The scenario's point, provided the 10 shingles land in 10 distinct
    # md5 buckets (they do; the replay would agree with Spark either
    # way): greedy picks novelty over redundancy — s_reda covers MORE
    # raw buckets (4) than s_novel (3) or s_tiny (1), but contributes
    # ZERO new ones, so it falls to the round-4 zero-gain tiebreak,
    # where it beats s_redb lexicographically.
    assert [w[1] for w in want] == ["s_big", "s_novel", "s_tiny", "s_reda"]
    assert [w[2] for w in want] == [6, 3, 1, 0]
    assert want[-1][3:] == (10, 1_000_000)


def test_greedy_fewer_sources_than_rounds_emits_short_report(spark, tmp_path):
    """Round-8 ADVICE guard: with fewer eligible sources than
    GREEDY_ROUNDS the oracle's later picks are empty SELECTs, so the
    Spark loop must break (not IndexError) and emit the shorter report."""
    from scats_transis_kinesis_spark.plans.curation import (
        greedy_source_coverage,
    )

    _write_documents(
        spark,
        tmp_path,
        [
            (0, "alpha beta gamma delta", "en", "s_one", 22),
            (1, "epsilon zeta eta", "en", "s_two", 16),
        ],
    )
    got = (
        greedy_source_coverage(spark, str(tmp_path))
        .orderBy("sel_round")
        .collect()
    )
    assert [r["sel_round"] for r in got] == [1, 2]
    assert {r["source"] for r in got} == {"s_one", "s_two"}
    # Both sources together cover the whole universe.
    assert got[-1]["coverage_micros"] == 1_000_000


def test_greedy_empty_shingle_universe_emits_empty_report(spark, tmp_path):
    """Round-8 ADVICE guard: no doc reaches COVER_NGRAM tokens ->
    empty report with the full 5-column schema, no divide-by-zero."""
    from scats_transis_kinesis_spark.plans.curation import (
        greedy_source_coverage,
    )

    _write_documents(
        spark,
        tmp_path,
        [(0, "one two", "en", "s_one", 7), (1, "x", "en", "s_two", 1)],
    )
    out = greedy_source_coverage(spark, str(tmp_path))
    assert out.columns == [
        "sel_round",
        "source",
        "gain_buckets",
        "covered_buckets",
        "coverage_micros",
    ]
    assert out.count() == 0


def test_greedy_fallback_argmax_path_matches_fast_path(
    spark, tmp_path, monkeypatch
):
    """Round-11 driver-payload cap (VERDICT-r10 item 2/5): when
    |sources| exceeds GREEDY_COLLECT_CAP the greedy switches to
    per-round argmax collects over the persisted cover relation.  With
    the cap forced below this corpus's 5 sources, the fallback must
    reproduce the replay — same picks, gains, coverage — proving the
    two paths compute the identical greedy."""
    import scats_transis_kinesis_spark.plans.curation as pq27

    rows = []
    i = 0
    for src, docs in _SOURCE_DOCS.items():
        for text in docs:
            rows.append((i, text, "en", src, len(text)))
            i += 1
    _write_documents(spark, tmp_path, rows)
    monkeypatch.setattr(pq27, "GREEDY_COLLECT_CAP", 2)

    cover = {
        s: {_bucket(t) for t in docs} for s, docs in _SOURCE_DOCS.items()
    }
    want = _replay_greedy(cover, rounds=4)
    got = [
        (
            r["sel_round"],
            r["source"],
            r["gain_buckets"],
            r["covered_buckets"],
            r["coverage_micros"],
        )
        for r in pq27.greedy_source_coverage(spark, str(tmp_path))
        .orderBy("sel_round")
        .collect()
    ]
    assert got == want
