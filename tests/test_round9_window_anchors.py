"""Window-ahead anchors for the round-9 driver-fill cohort.

The round-9 window leads with the r1/r2-only queries that did not fit
round 8's 50 slots (registry.py window comment).  Most are SCATS
parity wrappers whose operators carry their own golden tests; the four
below have real decision points that nothing pinned yet, so this file
replays them in plain Python BEFORE the driver re-samples them — the
same window-ahead pattern as test_round8_window_anchors*.

- ``sample_hash_bucket``: the bucket-99 boundary (bucket 9 kept,
  bucket 10 dropped) and the membership-stability contract (a row's
  membership depends only on its id — removing other rows never moves
  it).
- ``source_cap_sample``: a source at cap+1 drops EXACTLY the
  hash-order maximum — which the scenario forces to differ from the
  numeric doc_id maximum, proving the hash (not the id) orders the
  keep set; an under-cap source keeps everything.
- ``zorder_layout_audit``: the Morton interleave bit math (hand value:
  bx=1, by=1 -> z=3) and the full file-stat table vs a bit-twiddling
  replay.
- ``incremental_agg_maintenance``: groups that exist ONLY in the base
  state or ONLY in the delta must survive the union + re-reduce merge,
  with decimal-exact sums.
"""

from __future__ import annotations

import datetime
import hashlib


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _write_documents(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")


def test_sample_hash_bucket_boundary_and_stability(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.curation import (
        sample_hash_bucket,
    )

    ids = list(range(200))
    # The corpus must actually exercise the 9/10 boundary.
    buckets = {i: _h32(str(i)) % 100 for i in ids}
    assert any(b == 9 for b in buckets.values())
    assert any(b == 10 for b in buckets.values())

    _write_documents(
        spark, tmp_path, [(i, "t", "en", "web", 1) for i in ids]
    )
    got = {r["doc_id"] for r in sample_hash_bucket(spark, str(tmp_path)).collect()}
    want = {i for i in ids if buckets[i] < 10}
    assert got == want

    # Stability: membership is a property of the id alone — the same
    # query over HALF the corpus keeps exactly the intersection.
    half = [i for i in ids if i % 2 == 0]
    _write_documents(
        spark, f"{tmp_path}/half", [(i, "t", "en", "web", 1) for i in half]
    )
    got_half = {
        r["doc_id"]
        for r in sample_hash_bucket(spark, f"{tmp_path}/half").collect()
    }
    assert got_half == want & set(half)


def test_source_cap_drops_hash_max_not_id_max(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.curation import (
        SOURCE_CAP,
        source_cap_sample,
    )

    # cap+1 ids chosen so the hash-order maximum is NOT the numeric
    # maximum (searched deterministically; the claim is then asserted,
    # not assumed).
    pool = list(range(100))
    over = pool[: SOURCE_CAP + 1]
    while max(over, key=lambda i: (_h32(str(i)), i)) == max(over):
        pool = pool[1:]
        over = pool[: SOURCE_CAP + 1]
    dropped = max(over, key=lambda i: (_h32(str(i)), i))
    assert dropped != max(over)

    under = [1000, 1001, 1002]
    rows = [(i, "t", "en", "s_over", 1) for i in over] + [
        (i, "t", "en", "s_under", 1) for i in under
    ]
    _write_documents(spark, tmp_path, rows)
    got = {
        (r["doc_id"], r["source"])
        for r in source_cap_sample(spark, str(tmp_path)).collect()
    }
    want = {(i, "s_over") for i in over if i != dropped} | {
        (i, "s_under") for i in under
    }
    assert got == want


def _morton(bx: int, by: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((bx >> i) & 1) << (2 * i + 1)
        z |= ((by >> i) & 1) << (2 * i)
    return z


def test_zorder_morton_interleave_replay(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.storage import (
        Z_BITS,
        Z_CODES_PER_FILE,
        zorder_layout_audit,
    )

    # Hand value: bx=1, by=1 -> x bit at position 1, y bit at 0 -> z=3.
    assert _morton(1, 1, Z_BITS) == 3

    # Buckets are (custkey % 256, epoch-day % 256); epoch day d is
    # 1970-01-01 + d days.  Pairs chosen to straddle file boundaries
    # (codes around Z_CODES_PER_FILE) and the bucket wraparound (260 %
    # 256 = 4).
    pairs = [(1, 1), (3, 5), (255, 255), (260, 2), (16, 0), (0, 16)]
    rows = [
        (k, ck, datetime.datetime(1970, 1, 1) + datetime.timedelta(days=d))
        for k, (ck, d) in enumerate(pairs)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    got = {
        r["file_id"]: (
            r["n_rows"],
            r["min_cust_bucket"],
            r["max_cust_bucket"],
            r["min_day_bucket"],
            r["max_day_bucket"],
        )
        for r in zorder_layout_audit(spark, str(tmp_path)).collect()
    }

    files: dict[int, list[tuple[int, int]]] = {}
    for ck, d in pairs:
        bx, by = ck % 256, d % 256
        files.setdefault(_morton(bx, by, Z_BITS) // Z_CODES_PER_FILE, []).append(
            (bx, by)
        )
    want = {
        f: (
            len(bs),
            min(b for b, _ in bs),
            max(b for b, _ in bs),
            min(d for _, d in bs),
            max(d for _, d in bs),
        )
        for f, bs in files.items()
    }
    assert got == want
    assert len(want) > 1  # the scenario really spans multiple files


def test_incremental_merge_keeps_one_sided_groups(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.streaming import (
        incremental_agg_maintenance,
    )

    before = datetime.datetime(1998, 6, 1)
    after = datetime.datetime(1999, 6, 1)
    # 'X' only in the base state, 'Y' only in the delta, 'Z' in both;
    # cent-sized prices make the decimal sums exact.
    rows = [
        (1, "X", 10.01, before),
        (2, "X", 20.02, before),
        (3, "Y", 5.55, after),
        (4, "Z", 1.25, before),
        (5, "Z", 2.50, after),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    got = {
        r["o_orderstatus"]: (r["n_orders"], r["total_price"])
        for r in incremental_agg_maintenance(spark, str(tmp_path)).collect()
    }
    assert got == {"X": (2, 30.03), "Y": (1, 5.55), "Z": (2, 3.75)}
