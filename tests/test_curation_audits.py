"""Semantic property tests for the round-5 curation audits.

The driver's hash gate proves Spark and DuckDB compute the same
numbers; these tests prove the numbers MEAN what the docstrings claim
(the estimator-quality lesson from the sketch family: an oracle that
replays the same math can't see a semantically wrong formula).

- DSIR: weights must actually SEPARATE the target distribution from
  the rest — target-language documents must score higher on average,
  and on constructed corpora with disjoint vocabularies the separation
  must be strict for every document.
- Packing audit: along a divisor chain of context lengths, truncation
  loss and padding efficiency must both be monotone non-increasing,
  and the integer identities (padded >= tokens, ceil arithmetic) hold.
- Anisotropy: a collapsed (rank-1) embedding table must report
  avg_cos_centroid ~ 1; a symmetric +/-v table must report ~ 0 with
  half the vectors at negative cosine.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- DSIR


def test_dsir_weights_rank_target_language_higher(spark):
    """On the real corpus the mean per-token weight of target-language
    docs must exceed the mean over every other language: the weights
    are importance ratios TOWARD the target distribution, so anything
    else means the ratio is inverted or the smoothing swamped the
    signal."""
    from scats_transis_kinesis_spark.plans.curation import (
        DSIR_TARGET_LANG,
        dsir_importance_weights,
    )
    from scats_transis_kinesis_spark.sources.loaders import load_table

    w = dsir_importance_weights(spark, SF_DIR)
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "lang")
    per_lang = {
        r["lang"]: r["m"]
        for r in (
            w.join(docs, "doc_id")
            .groupBy("lang")
            .agg(F.avg(F.col("log_weight") / F.col("n_tokens")).alias("m"))
            .collect()
        )
    }
    target = per_lang.pop(DSIR_TARGET_LANG)
    assert per_lang, "corpus must contain non-target languages"
    for lang, mean_weight in per_lang.items():
        assert target > mean_weight, (
            f"target '{DSIR_TARGET_LANG}' mean per-token weight {target:.4f} "
            f"not above '{lang}' ({mean_weight:.4f})"
        )


def test_dsir_separates_disjoint_vocabularies(spark, tmp_path):
    """Constructed corpus: target docs draw from one vocabulary, raw
    docs from a disjoint one.  Every target-language doc must get a
    strictly positive weight and every other doc a strictly negative
    one — total separation when the distributions share no tokens."""
    from scats_transis_kinesis_spark.plans.curation import (
        DSIR_TARGET_LANG,
        dsir_importance_weights,
    )

    rows = []
    for i in range(20):
        rows.append(
            (i, " ".join(f"alpha{j}" for j in range(10)), DSIR_TARGET_LANG, "s", 0)
        )
        rows.append(
            (100 + i, " ".join(f"omega{j}" for j in range(10)), "zz", "s", 0)
        )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_importance_weights(spark, str(tmp_path)).collect()
    }
    assert len(got) == 40
    for doc_id, lw in got.items():
        if doc_id < 100:
            assert lw > 0, f"target doc {doc_id} weight {lw} not positive"
        else:
            assert lw < 0, f"non-target doc {doc_id} weight {lw} not negative"


# ------------------------------------------------------------- packing


def test_packing_audit_monotone_along_divisor_chain(spark):
    from scats_transis_kinesis_spark.plans.curation import (
        PACK_CONTEXT_LENGTHS,
        packing_efficiency_audit,
    )

    for a, b in zip(PACK_CONTEXT_LENGTHS, PACK_CONTEXT_LENGTHS[1:]):
        assert b % a == 0, "context lengths must form a divisor chain"

    rows = {
        r["context_len"]: r
        for r in packing_efficiency_audit(spark, SF_DIR).collect()
    }
    assert sorted(rows) == sorted(PACK_CONTEXT_LENGTHS)
    ordered = [rows[length] for length in PACK_CONTEXT_LENGTHS]
    for r in ordered:
        assert r["total_padded"] >= r["total_tokens"] > 0
        assert 0 < r["pad_efficiency"] <= 1
        assert 0 <= r["trunc_loss_frac"] < 1
    for small, big in zip(ordered, ordered[1:]):
        # Coarser grid: at least as much padding, no more truncation.
        assert big["total_padded"] >= small["total_padded"]
        assert big["pad_efficiency"] <= small["pad_efficiency"]
        assert big["trunc_loss_frac"] <= small["trunc_loss_frac"]
        assert big["oversize_docs"] <= small["oversize_docs"]


# ---------------------------------------------------------- anisotropy


@pytest.mark.parametrize(
    "collapsed, expect_cos, expect_frac_neg",
    [(True, 1.0, 0.0), (False, 0.0, 0.5)],
    ids=["collapsed-rank1", "symmetric-isotropic"],
)
def test_anisotropy_extremes(spark, collapsed, expect_cos, expect_frac_neg):
    """A rank-1 table (all vectors on one ray) must read as fully
    anisotropic (avg cos ~ 1, no negatives); a balanced two-axis table
    (each axis with a +2 and a -1 vector, so the centroid is small but
    nonzero) must read as isotropic (avg cos ~ 0, half negative)."""
    from scats_transis_kinesis_spark.operators.similarity import (
        anisotropy_stats,
    )

    if collapsed:
        base = [1.0, 2.0, 3.0, 4.0]
        vecs = [[x * s for x in base] for s in (1.0, 2.0, 0.5, 3.0)]
    else:
        vecs = [
            [2.0, 0.0, 0.0, 0.0],
            [-1.0, 0.0, 0.0, 0.0],
            [0.0, 2.0, 0.0, 0.0],
            [0.0, -1.0, 0.0, 0.0],
        ]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label int",
    )
    row = anisotropy_stats(df).collect()[0]
    assert row["n_vectors"] == 4
    assert row["avg_cos_centroid"] == pytest.approx(expect_cos, abs=1e-4)
    assert row["frac_negative_cos"] == pytest.approx(expect_frac_neg, abs=1e-6)


def test_anisotropy_real_corpus_sane(spark):
    from scats_transis_kinesis_spark.operators.similarity import (
        anisotropy_stats,
    )
    from scats_transis_kinesis_spark.sources.loaders import load_table

    rows = anisotropy_stats(load_table(spark, "embeddings", SF_DIR)).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["min_cos_centroid"] <= r["max_cos_centroid"] <= 1.0
        assert r["avg_norm"] > 0
        assert 0 <= r["frac_negative_cos"] <= 1


# ----------------------------------------------------------- fertility


def test_fertility_at_least_one_token_per_word(spark):
    """Every whitespace word yields at least one BPE-pattern match
    (letter run / digit run / symbol), so fertility >= 1 by
    construction — a value below 1 means the regex and the word split
    disagree about what text exists."""
    from scats_transis_kinesis_spark.plans.text import (
        token_fertility_by_lang,
    )

    for r in token_fertility_by_lang(spark, SF_DIR).collect():
        assert r["fertility"] >= 1.0, r
        assert r["chars_per_token"] > 0, r


# ------------------------------------------------- vectorized scorer


def test_nearest_cross_vectorized_breaks_ties_on_smaller_id(spark):
    """Two corpus vectors with IDENTICAL cosine to a query must resolve
    to the smaller id — the round-then-rank contract the SQL oracle
    uses.  The gate corpus never produces exact ties, so this pins the
    in-batch lexsort and the cross-batch window tie-break directly."""
    from scats_transis_kinesis_spark.operators.similarity import (
        nearest_cross_vectorized,
    )

    v = [1.0, 2.0, 3.0]
    corpus = spark.createDataFrame(
        # ids deliberately out of order; 9 and 3 are identical vectors
        # (cosine 1 to the query), 7 is orthogonal-ish.
        [(9, v), (3, v), (7, [-3.0, 0.0, 1.0])],
        "train_id long, v array<double>",
    ).repartition(3)  # spread across batches to exercise the window
    queries = spark.createDataFrame(
        [(100, [2.0, 4.0, 6.0])], "eval_id long, v array<double>"
    )
    rows = nearest_cross_vectorized(corpus, queries).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["eval_id"] == 100
    assert r["train_id"] == 3, "tie must resolve to the smaller corpus id"
    assert r["cosine_sim"] == 1.0
