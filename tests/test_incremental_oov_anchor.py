"""Hand-computed anchors for incremental aggregate maintenance and
per-document OOV rates.

Incremental agg: the union+re-reduce merge must equal a full recompute
to the cent on a fixture straddling the split date, including a group
that exists only in the delta.  OOV: vocabulary membership at the
exact min-count boundary and per-doc rates replay by hand."""

from __future__ import annotations

import datetime


def test_incremental_merge_equals_full_recompute(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.streaming import (
        INCR_SPLIT,
        incremental_agg_maintenance,
    )

    split = datetime.datetime.fromisoformat(str(INCR_SPLIT))
    before = split - datetime.timedelta(days=10)
    after = split + datetime.timedelta(days=10)
    rows = [
        # status O: rows on both sides of the split.
        (1, 1, "O", 10.10, before),
        (2, 1, "O", 20.25, after),
        (3, 2, "O", 0.65, after),
        # status F: base-only.
        (4, 2, "F", 99.99, before),
        # status P: delta-only (group absent from yesterday's state).
        (5, 3, "P", 7.77, after),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp",
    ).write.parquet(f"{tmp_path}/orders.parquet")

    out = {
        r["o_orderstatus"]: (r["n_orders"], r["total_price"])
        for r in incremental_agg_maintenance(spark, str(tmp_path)).collect()
    }
    assert out == {
        "O": (3, 31.00),
        "F": (1, 99.99),
        "P": (1, 7.77),
    }


def test_oov_rate_vocab_boundary_by_hand(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import (
        VOCAB_MIN_COUNT,
        vocab_oov_rate,
    )

    # 'common' appears exactly VOCAB_MIN_COUNT times (in-vocab at the
    # boundary); 'nearly' one fewer (OOV); 'rare' once (OOV).
    filler_doc = (1, " ".join(["common"] * (VOCAB_MIN_COUNT - 2) + ["nearly"] * (VOCAB_MIN_COUNT - 2)))
    probe_doc = (2, "common common nearly rare")
    spark.createDataFrame(
        [filler_doc, probe_doc], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {r["doc_id"]: r for r in vocab_oov_rate(spark, str(tmp_path)).collect()}
    p = out[2]
    assert p["n_tokens"] == 4
    # 'common' total = (VOCAB_MIN_COUNT-2)+2 = boundary -> in vocab;
    # 'nearly' total = (VOCAB_MIN_COUNT-2)+1 = one under -> OOV;
    # 'rare' -> OOV.  So 2 of 4 tokens are OOV.
    assert p["n_oov"] == 2
    assert p["oov_rate"] == 0.5
    f = out[1]
    assert f["n_oov"] == VOCAB_MIN_COUNT - 2  # every 'nearly' token
