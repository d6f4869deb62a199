"""Python-replayed anchors for Morton coding and per-source capping.

Z-order: the bit interleave (x at odd positions, y at even), the
file grouping, and the per-file two-dimensional min/max stats replay
exactly in Python — an interleave bug shared by both engines would
pass the oracle but not this.  Source cap: the deterministic
hash-order keep set replays via the same md5-prefix hash."""

from __future__ import annotations

import datetime
import hashlib


def _morton(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i + 1)
        z |= ((y >> i) & 1) << (2 * i)
    return z


def test_zorder_files_match_python_morton(spark, tmp_path):
    epoch = datetime.datetime(1970, 1, 1)
    rows = []
    pts = [(5, 3), (5, 4), (255, 255), (128, 0), (0, 128), (77, 200)]
    for k, (cust, day) in enumerate(pts):
        rows.append((k, cust, 100.0, epoch + datetime.timedelta(days=day)))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    from scats_transis_kinesis_spark.plans.storage import (
        Z_CODES_PER_FILE,
        zorder_layout_audit,
    )

    expect: dict[int, list] = {}
    for _, cust, _, ts in rows:
        day = (ts - epoch).days
        fid = _morton(cust % 256, day % 256) // Z_CODES_PER_FILE
        e = expect.setdefault(fid, [0, 256, -1, 256, -1])
        e[0] += 1
        e[1] = min(e[1], cust % 256)
        e[2] = max(e[2], cust % 256)
        e[3] = min(e[3], day % 256)
        e[4] = max(e[4], day % 256)

    got = {
        r["file_id"]: [
            r["n_rows"],
            r["min_cust_bucket"],
            r["max_cust_bucket"],
            r["min_day_bucket"],
            r["max_day_bucket"],
        ]
        for r in zorder_layout_audit(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_source_cap_keep_set_matches_python_hash_order(spark, tmp_path):
    rows = [(i, "web" if i % 2 else "book") for i in range(1, 45)]
    spark.createDataFrame(rows, "doc_id long, source string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )

    from scats_transis_kinesis_spark.plans.curation import (
        SOURCE_CAP,
        source_cap_sample,
    )

    def h32(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    expect = set()
    for src in ("web", "book"):
        members = sorted(
            (i for i, s in rows if s == src), key=lambda i: (h32(i), i)
        )
        expect |= {(i, src) for i in members[:SOURCE_CAP]}

    got = {
        (r["doc_id"], r["source"])
        for r in source_cap_sample(spark, str(tmp_path)).collect()
    }
    assert got == expect
