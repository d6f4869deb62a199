"""Round-8 batch: LSH banding-design twins and exact-substring islands.

- ``dedup_embedding_lsh_recall`` — the recall-oriented 8x4 banding twin
  of ``dedup_embedding_lsh`` (BACKLOG "Embedding LSH tuning"): same
  sign-random-projection family over the same 32-dim prefix, but split
  into 8 bands of 4 sign bits.  Fewer bits per band means a candidate
  needs only 4 agreeing signs in ANY of 8 bands — the S-curve shifts
  left (higher recall, lower precision), the production posture for
  near-dup at cosine >= 0.8 per SCALE.md §6.5.
- ``lsh_banding_tradeoff_audit`` — the design table for choosing between
  the two banded layouts: candidate volume, verified-pair yield,
  precision (verified/candidates), and each layout's share of the
  verified-pair UNION — the measured S-curve trade-off the analytic
  ``lsh_parameter_planner`` predicts.
- ``repeated_span_islands`` — the span-MERGE extension of
  ``repeated_span_coverage`` (the suffix-style statistic of exact-
  substring dedup, Lee et al. 2022): repeated spans that overlap or
  touch within a document merge into maximal duplicated intervals
  ("islands"), and each document reports its island count, the merged
  covered-token total, and its longest contiguous duplicated run —
  what an exact-substring CUT pass would remove span-by-span.

Determinism: bucket ids are pure sign arithmetic; cosine keeps the
family's round-6 contract; all audit ratios are floor-micros integers;
island arithmetic is integer positions through partitioned windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import LSH_BANDS, LSH_BITS, pair_cosine, sign_lsh_pairs
from ..sources.loaders import load_table
from .coverage_queries import LSH_DUP_THRESHOLD
from .pipeline_queries3 import _SPAN_FLAT_CTES, SPAN_N, _repeated_span_flat
from .pipeline_queries13 import _idiv
from .registry import register

# Recall-oriented banding: 8 bands x 4 sign bits over dims 1..32 — the
# same 32-dim prefix the 4x8 layout hashes, re-banded for recall.
R_BANDS = 8
R_BITS = 4


def _lsh_cand_ctes(bands: int, bits: int, prefix: str) -> str:
    """DuckDB CTE pair ``{prefix}buckets`` / ``{prefix}cand`` for a
    banded sign-LSH layout (mirrors coverage_queries._LSH_PAIRS_CTES,
    parameterized over the banding)."""
    return f"""
        {prefix}buckets AS (
            SELECT vec_id, v, band,
                   list_sum(list_transform(generate_series(0, {bits - 1}),
                       d -> CASE WHEN v[band * {bits} + d + 1] > 0
                                 THEN (1 << d) ELSE 0 END)) AS bucket
            FROM e CROSS JOIN (
                SELECT unnest(generate_series(0, {bands - 1})) AS band)
        ),
        {prefix}cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM {prefix}buckets a JOIN {prefix}buckets b
              ON a.band = b.band AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
        )
    """


_COS_SQL = """round(list_dot_product(ea.v, eb.v)
                     / (sqrt(list_dot_product(ea.v, ea.v))
                        * sqrt(list_dot_product(eb.v, eb.v))), 6)"""


def _lsh_verified_sql(cand: str) -> str:
    return f"""
            SELECT id_a, id_b
            FROM {cand}
            JOIN e ea ON ea.vec_id = {cand}.id_a
            JOIN e eb ON eb.vec_id = {cand}.id_b
            WHERE {_COS_SQL} >= {LSH_DUP_THRESHOLD}
    """


def _verified_pairs(cand: DataFrame, e: DataFrame) -> DataFrame:
    """Exact-cosine verification of LSH candidates at the family's
    round-6 / >= LSH_DUP_THRESHOLD contract."""
    return pair_cosine(cand, e).where(F.col("cosine_sim") >= LSH_DUP_THRESHOLD)


@register(
    "dedup_embedding_lsh_recall",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_lsh_cand_ctes(R_BANDS, R_BITS, "r_")}
        SELECT id_a, id_b, {_COS_SQL} AS cosine_sim
        FROM r_cand
        JOIN e ea ON ea.vec_id = r_cand.id_a
        JOIN e eb ON eb.vec_id = r_cand.id_b
        WHERE {_COS_SQL} >= {LSH_DUP_THRESHOLD}
    """,
    doc=f"""Embedding near-dup via RECALL-banded sign-LSH: {R_BANDS}
    bands of {R_BITS} sign bits over the same 32-dim prefix as
    dedup_embedding_lsh's {LSH_BANDS}x{LSH_BITS} layout.  A pair only
    needs {R_BITS} agreeing signs in any one band, so the match S-curve
    shifts toward recall — the banding a production near-dup pass at
    cosine >= 0.8 would run (BACKLOG "Embedding LSH tuning",
    SCALE.md §6.5); this corpus's verified-pair superset of the 4x8
    layout is measured by lsh_banding_tradeoff_audit.  Scale shape:
    identical to the 4x8 twin — candidate generation is a
    shuffle-partitioned equi-join on (band, bucket), verification joins
    vectors back by key; {R_BANDS}x the bucket rows, never all-pairs.""",
)
def dedup_embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return _verified_pairs(sign_lsh_pairs(e, R_BANDS, R_BITS), e)


@register(
    "lsh_banding_tradeoff_audit",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_lsh_cand_ctes(LSH_BANDS, LSH_BITS, "p_")},
        {_lsh_cand_ctes(R_BANDS, R_BITS, "r_")},
        p_ver AS ({_lsh_verified_sql("p_cand")}),
        r_ver AS ({_lsh_verified_sql("r_cand")}),
        uni AS (
            SELECT count(*)::BIGINT AS n_union
            FROM (SELECT id_a, id_b FROM p_ver
                  UNION
                  SELECT id_a, id_b FROM r_ver)
        ),
        stats AS (
            SELECT 'precision_{LSH_BANDS}x{LSH_BITS}' AS config,
                   (SELECT count(*) FROM p_cand)::BIGINT AS n_candidates,
                   (SELECT count(*) FROM p_ver)::BIGINT AS n_verified
            UNION ALL
            SELECT 'recall_{R_BANDS}x{R_BITS}',
                   (SELECT count(*) FROM r_cand)::BIGINT,
                   (SELECT count(*) FROM r_ver)::BIGINT
        )
        SELECT config, n_candidates, n_verified,
               (CASE WHEN n_candidates > 0
                     THEN (n_verified * 1000000) // n_candidates
                END)::BIGINT AS precision_micros,
               (CASE WHEN uni.n_union > 0
                     THEN (n_verified * 1000000) // uni.n_union
                END)::BIGINT AS union_share_micros
        FROM stats, uni
        ORDER BY config
    """,
    doc=f"""The measured S-curve trade-off between the two banded
    sign-LSH layouts ({LSH_BANDS}x{LSH_BITS} precision vs
    {R_BANDS}x{R_BITS} recall) on this corpus: per layout, candidate
    volume, verified near-dup pairs (cosine >= {LSH_DUP_THRESHOLD} at
    the family's round-6 contract), floor-micros precision
    (verified/candidates — the wasted-verification cost), and the
    layout's floor-micros share of the verified-pair UNION (its recall
    relative to running both).  The empirical companion to
    lsh_parameter_planner's analytic design table.  Determinism: exact
    counts and floor-micros ratios; zero-candidate and empty-union
    degenerate cases yield NULL, never a divide-by-zero.  Scale shape:
    both candidate joins are banded equi-joins; every output number is
    an aggregate — two count rows cross-join one 1-row union scalar
    (bounded broadcast, declared).""",
)
def lsh_banding_tradeoff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # Persisted: each verified-pair frame feeds BOTH its per-layout
    # count and the cross-layout union, and each candidate frame feeds
    # BOTH its count and the verify join — without the pin Spark
    # recomputes the banded self-join once per consuming aggregate
    # (measured 8.6 s → 3.8 s isolated min-of-3 at sf0.1).  Same cache
    # contract as boilerplate_shingle_prune: one query's lifetime,
    # cleared by the harnesses between queries; at 100 TB these are
    # explicit checkpoints of slim id-pair tables.
    p_cand = sign_lsh_pairs(e, LSH_BANDS, LSH_BITS).persist()
    r_cand = sign_lsh_pairs(e, R_BANDS, R_BITS).persist()
    p_ver = _verified_pairs(p_cand, e).select("id_a", "id_b").persist()
    r_ver = _verified_pairs(r_cand, e).select("id_a", "id_b").persist()
    uni = (
        p_ver.unionByName(r_ver)
        .distinct()
        .agg(F.count("*").alias("n_union"))
    )

    def one(config: str, cand: DataFrame, ver: DataFrame) -> DataFrame:
        return (
            cand.agg(F.count("*").alias("n_candidates"))
            .crossJoin(ver.agg(F.count("*").alias("n_verified")))
            .select(
                F.lit(config).alias("config"), "n_candidates", "n_verified"
            )
        )

    stats = one(f"precision_{LSH_BANDS}x{LSH_BITS}", p_cand, p_ver).unionByName(
        one(f"recall_{R_BANDS}x{R_BITS}", r_cand, r_ver)
    )
    micros = F.col("n_verified") * F.lit(1_000_000)
    return stats.crossJoin(F.broadcast(uni)).select(
        "config",
        "n_candidates",
        "n_verified",
        F.when(
            F.col("n_candidates") > 0, _idiv(micros, F.col("n_candidates"))
        ).alias("precision_micros"),
        F.when(
            F.col("n_union") > 0, _idiv(micros, F.col("n_union"))
        ).alias("union_share_micros"),
    )


@register(
    "repeated_span_islands",
    oracle=f"""
        WITH {_SPAN_FLAT_CTES}, occ AS (
            SELECT DISTINCT f.doc_id, f.pos
            FROM flat f JOIN rep r ON f.g = r.g
        ), flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN max(pos + {SPAN_N - 1}) OVER w IS NULL
                             OR pos > max(pos + {SPAN_N - 1}) OVER w + 1
                        THEN 1 ELSE 0 END AS new_island
            FROM occ
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ), isl AS (
            SELECT doc_id, pos,
                   sum(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island_id
            FROM flagged
        ), merged AS (
            SELECT doc_id, island_id,
                   min(pos) AS s, max(pos) + {SPAN_N - 1} AS e
            FROM isl GROUP BY doc_id, island_id
        )
        SELECT doc_id,
               count(*)::BIGINT AS n_islands,
               sum(e - s + 1)::BIGINT AS covered_tokens,
               max(e - s + 1)::BIGINT AS max_island_len
        FROM merged GROUP BY doc_id
    """,
    doc=f"""Exact-substring duplicated ISLANDS (the span-merge extension
    of repeated_span_coverage, toward the suffix-array cut pass of Lee
    et al. 2022): every {SPAN_N}-token span occurring in >= 2 documents
    covers positions [pos, pos+{SPAN_N - 1}]; overlapping or touching
    covered ranges within a document merge (gaps-and-islands) into
    maximal contiguous duplicated intervals.  Per document with any
    repeated span: island count, merged covered-token total (equal to
    repeated_span_coverage's n_covered by construction — the islands
    partition the covered set), and the longest contiguous duplicated
    run — the spans an exact-substring dedup would actually cut.
    Determinism: integer positions end to end; islands are
    order-independent facts of the covered set.  Scale shape: the
    span-keyed groupBy and semi-join of the coverage query, then two
    doc-partitioned windows (bounded by document length, never global)
    and one grouped rollup — no all-pairs stage.""",
)
def repeated_span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    flat, rep = _repeated_span_flat(docs)
    # No .distinct(): flat is one row per (doc_id, pos) BY CONSTRUCTION
    # (the span generator emits each position once), so the semi-join
    # output is already unique — the old distinct was a full extra
    # exchange deduplicating nothing (round-11, guide §2.4).
    occ = flat.join(rep, "g", "left_semi").select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + F.lit(SPAN_N - 1)).over(w_prev)
    flagged = occ.withColumn(
        "new_island",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = flagged.withColumn("island_id", F.sum("new_island").over(w_run))
    merged = isl.groupBy("doc_id", "island_id").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(SPAN_N - 1)).alias("e"),
    )
    length = F.col("e") - F.col("s") + 1
    return merged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_islands"),
        F.sum(length).cast("long").alias("covered_tokens"),
        F.max(length).cast("long").alias("max_island_len"),
    )
