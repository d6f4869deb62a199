"""Round-7 anchor batch 17: activity-profile similarity and lexicon
sentiment.

- ``timeseries_similarity_topk``: gap-filled daily-profile Euclidean
  distances replayed by hand — a user with NO activity on some grid
  days must be compared through zeros, not dropped rows, and an
  all-zero user scores the query's own norm.
- ``text_sentiment_lexicon``: pins the DISTINCT-hits semantics of the
  array-intersection counters ("good good good" counts ONE positive
  hit) and the token-count normalization.
"""

from __future__ import annotations

import datetime
import math

import pytest


def test_timeseries_similarity_matches_gapfilled_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.timeseries import (
        TS_QUERY_USER,
        timeseries_similarity_topk,
    )

    # Profiles over Jan 2024 (30-day grid): the query user is active
    # days 1-3; user 200 mirrors it exactly (dist 0); user 201 differs
    # on one day by 2 (dist 2); user 202 is active ONLY on day 10 — its
    # distance must include the query's days as zero-filled diffs.
    profiles = {
        TS_QUERY_USER: {1: 3, 2: 5, 3: 2},
        200: {1: 3, 2: 5, 3: 2},
        201: {1: 3, 2: 7, 3: 2},
        202: {10: 4},
        203: {1: 1, 2: 1, 3: 1, 4: 1},
    }
    rows = []
    eid = 0
    for uid, prof in profiles.items():
        for day, c in prof.items():
            ts = datetime.datetime(2024, 1, day, 9)
            for _ in range(c):
                eid += 1
                rows.append((eid, uid, "click", ts, 1.0))
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")

    got = [
        (r["user_id"], r["dist"])
        for r in timeseries_similarity_topk(spark, str(tmp_path)).collect()
    ]

    q = [profiles[TS_QUERY_USER].get(d, 0) for d in range(1, 31)]
    want = []
    for uid, prof in profiles.items():
        if uid == TS_QUERY_USER:
            continue
        v = [prof.get(d, 0) for d in range(1, 31)]
        dist = round(math.sqrt(sum((a - b) ** 2 for a, b in zip(v, q))), 6)
        want.append((uid, dist))
    want = sorted(want, key=lambda t: (t[1], t[0]))[:5]
    assert got == want
    # Replay sanity: the mirror is exactly 0, the one-day delta exactly
    # 2, and the disjoint user pays both its own day and the query's.
    d = dict(want)
    assert d[200] == 0.0
    assert d[201] == 2.0
    assert d[202] == round(math.sqrt(16 + 9 + 25 + 4), 6)


def test_sentiment_counts_distinct_lexicon_hits(spark, tmp_path):
    texts = [
        "good good good stuff",            # 1 distinct positive, 4 toks
        "good great bad day here",         # 2 pos, 1 neg, 5 toks
        "nothing emotional here at all",   # 0 / 0
        "GOOD shouted loudly",             # lowercased match, 3 toks
        "worst worst best best",           # 1 pos, 1 neg -> 0 net
    ]
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    from scats_transis_kinesis_spark.plans.text import (
        text_sentiment_lexicon,
    )

    got = {
        r["doc_id"]: (r["n_positive"], r["n_negative"], r["sentiment"])
        for r in text_sentiment_lexicon(spark, str(tmp_path)).collect()
    }
    assert got[0] == (1, 0, round(1 / 4, 6))     # distinct, not 3
    assert got[1] == (2, 1, round(1 / 5, 6))
    assert got[2] == (0, 0, 0.0)
    assert got[3] == (1, 0, round(1 / 3, 6))     # case-insensitive
    assert got[4] == (1, 1, 0.0)
