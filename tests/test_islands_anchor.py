"""Hand-computed anchor for sensor_outage_islands (gaps-and-islands).

The constant-difference island trick is a classic place for off-by-one
and boundary bugs shared by both engines; this pins run boundaries,
the >= 3 hour cut, duplicate-event collapsing, and key isolation on a
by-hand hour layout."""

from __future__ import annotations

import datetime


def test_islands_boundaries_threshold_and_key_isolation(spark, tmp_path):
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(hour, minute=0):
        return base + datetime.timedelta(hours=hour, minutes=minute)

    rows = []
    # 'click': active hours 0,1,2 (island of 3), gap, 5,6 (island of 2
    # -> cut by the >=3 threshold), gap, 10,11,12,13 (island of 4).
    for h in [0, 1, 2, 5, 6, 10, 11, 12, 13]:
        rows.append((1, "click", at(h)))
    # duplicate events inside one hour must not split or lengthen runs
    rows.append((2, "click", at(1, 30)))
    # 'view': hours 1,2,3 — overlaps click's hours but is its own key.
    for h in [1, 2, 3]:
        rows.append((3, "view", at(h)))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(f"{tmp_path}/events.parquet")

    from scats_transis_kinesis_spark.plans.timeseries import (
        sensor_outage_islands,
    )

    out = sorted(
        (
            (r["event_type"], r["island_start_hour"], r["island_end_hour"], r["n_hours"])
            for r in sensor_outage_islands(spark, str(tmp_path)).collect()
        )
    )
    h0 = int(base.replace(tzinfo=datetime.timezone.utc).timestamp()) // 3600
    assert out == [
        ("click", h0 + 0, h0 + 2, 3),
        ("click", h0 + 10, h0 + 13, 4),
        ("view", h0 + 1, h0 + 3, 3),
    ]
