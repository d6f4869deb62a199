"""Parity/anchor tests for the ntile closed form and time-decay scoring.

``ntile_from_rank`` replaces a global ntile window (which would
single-partition the cluster) with a closed-form split — it must match
SQL ``ntile`` EXACTLY for every (n_rows, n_tiles) shape, including the
remainder tiles and the n_rows < n_tiles degenerate.  The time-decay
anchor pins the round-6-quantized exp weighting to a by-hand value."""

from __future__ import annotations

import datetime
import math

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_ntile_from_rank_matches_sql_ntile_all_shapes(spark):
    from scats_transis_kinesis_spark.operators.relational import ntile_from_rank

    for n_rows in (1, 2, 3, 4, 5, 7, 8, 9, 100, 101, 103):
        for n_tiles in (2, 3, 4, 10):
            df = spark.range(1, n_rows + 1).withColumnRenamed("id", "rn")
            w = Window.orderBy("rn")
            got = (
                df.select(
                    "rn",
                    ntile_from_rank(F.col("rn"), n_rows, n_tiles).alias("closed"),
                    F.ntile(n_tiles).over(w).alias("sql"),
                )
                .where(F.col("closed") != F.col("sql"))
                .count()
            )
            assert got == 0, f"ntile mismatch at n_rows={n_rows} n_tiles={n_tiles}"


def test_time_decay_scores_by_hand(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.timeseries import (
        DECAY_LAMBDA,
        DECAY_REF_DATE,
        time_decay_user_scores,
    )

    ref = datetime.datetime.fromisoformat(DECAY_REF_DATE)
    rows = [
        # ages 0, 10, 30 days
        (1, 7, "click", ref, 10.0),
        (2, 7, "view", ref - datetime.timedelta(days=10), 20.0),
        (3, 7, "click", ref - datetime.timedelta(days=30), 40.0),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    ).write.parquet(f"{tmp_path}/events.parquet")

    out = time_decay_user_scores(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 3
    expected = round(
        10.0 * round(math.exp(-DECAY_LAMBDA * 0), 6)
        + 20.0 * round(math.exp(-DECAY_LAMBDA * 10), 6)
        + 40.0 * round(math.exp(-DECAY_LAMBDA * 30), 6),
        4,
    )
    assert r["decayed_score"] == expected
