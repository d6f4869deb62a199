"""Hand-computed anchors for the transition matrix and two-pass heavy
hitters.

Transitions: per-user ordering (ts, event_id tiebreak) and the
NULL-prev drop replay by hand — the base the Markov stationary query
builds on.  Heavy hitters: the two-pass bucket prune must lose
NOTHING vs exact HAVING counts, including a token exactly AT the
threshold and a sub-threshold token sharing a bucket with a heavy one."""

from __future__ import annotations

import datetime


def test_transition_counts_by_hand(spark, tmp_path):
    t0 = datetime.datetime(2024, 1, 1, 9)

    def at(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        # user 1 path: view -> click -> purchase (ordered by ts).
        (1, 1, "view", at(0)),
        (2, 1, "click", at(1)),
        (3, 1, "purchase", at(2)),
        # user 2: two events with the SAME ts -> event_id tiebreak
        # (4 before 5): click -> view; then view -> click at +1.
        (4, 2, "click", at(0)),
        (5, 2, "view", at(0)),
        (6, 2, "click", at(1)),
        # user 3: a single event contributes no transition.
        (7, 3, "purchase", at(0)),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.timeseries import (
        event_transition_matrix,
    )

    got = {
        (r["prev_type"], r["next_type"]): r["n_transitions"]
        for r in event_transition_matrix(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("view", "click"): 2,   # user 1 and user 2 (+1 min)
        ("click", "purchase"): 1,
        ("click", "view"): 1,   # user 2 same-ts tiebreak
    }


def test_heavy_hitters_twopass_is_lossless_at_threshold(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.storage import (
        HH_THRESHOLD,
        heavy_hitters_twopass,
    )

    # 'hot' appears exactly HH_THRESHOLD times (boundary: kept),
    # 'warm' one fewer (dropped), 'mega' far above.
    words = (
        ["hot"] * HH_THRESHOLD
        + ["warm"] * (HH_THRESHOLD - 1)
        + ["mega"] * (3 * HH_THRESHOLD)
        + ["x", "y", "z"]
    )
    spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    got = {
        r["tok"]: r["cnt"]
        for r in heavy_hitters_twopass(spark, str(tmp_path)).collect()
    }
    assert got == {"hot": HH_THRESHOLD, "mega": 3 * HH_THRESHOLD}
