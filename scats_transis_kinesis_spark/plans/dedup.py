"""Deduplication: exact, near-duplicate, clustering and repeated spans.

Exact content-hash dedup, MinHash/SimHash/embedding-LSH near-dup
pairs, connected-component clusters and their canonical members,
containment and winnowing, fuzzy entity matching, and the repeated
span family (coverage, islands, the exact-substring cut) with its
planning and agreement audits.

- ``winnowing_dup_pairs`` — winnowing document fingerprints (Schleimer
  et al., SIGMOD '03 — the MOSS algorithm): the min k-gram hash of
  every sliding window is a fingerprint; any shared substring of
  length ≥ w+k−1 GUARANTEES a shared fingerprint, the detection
  guarantee MinHash cannot give.  Shared-fingerprint doc pairs are
  the dedup report.
- ``doc_stitch_overlap`` — ingest-stitching detector: document pairs
  where one's trailing k tokens exactly equal another's leading k
  tokens (the signature of a splitter that broke one source document
  into two) — an equi-join on the boundary token window, the lossless
  complement to containment/minhash near-dup.
- ``lsh_parameter_planner`` — the banded-minhash S-curve
  P(candidate) = 1 − (1 − s^r)^b across the engine's (bands, rows)
  design space with each configuration's similarity threshold
  (1/b)^(1/r) — the design table behind ``dedup_minhash_lsh``'s 4×8
  choice and the 8×4 recall variant noted in BACKLOG.
- ``blocking_cost_audit`` — candidate-pair cost prediction for two
  blocking keys: actual pairs Σc·(c−1)/2 per key (computed from
  GROUP COUNTS — no pair is ever materialized), the uniform-key
  estimate n²/(2·ndv) the textbook estimator would give, their skew
  ratio, and the single hottest key's share — the number that decides
  whether a dedup blocking key will explode before the join runs.
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
- ``exact_substring_cut`` / ``exact_substring_cut_savings`` — the Lee
  et al. 2022 ("Deduplicating Training Data Makes Language Models
  Better") deliverable the repeated-span family has been building
  toward: ``repeated_span_islands`` computes the maximal duplicated
  runs; the cut pass EMITS the cleaned corpus those islands imply
  (per-doc kept tokens + reconstructed kept text) and the savings
  report aggregates the corpus-level token savings per source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import (
    duckdb_hash32_sql,
    duckdb_hash64_sql,
    minhash_value_sql,
    portable_hash32,
)
from ..operators import dedup as D
from ..operators.dedup import SHINGLE_N, shingle_sets
from ..operators.relational import MICROS, idiv
from ..operators.similarity import LSH_BANDS, LSH_BITS, pair_cosine, sign_lsh_pairs
from ..operators.text import tokens
from ..sources.loaders import load_table
from .registry import register


# --- oracle SQL builders (mirror the Spark operators exactly) -------------
def _minhash_lsh_oracle() -> str:
    mins = ",\n               ".join(
        f"min({minhash_value_sql('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(D.MINHASH_COEFFS)
    )
    band_rows = []
    for band in range(D.BANDS):
        cols = ", ".join(
            f"m{band * D.ROWS_PER_BAND + r}::VARCHAR" for r in range(D.ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT doc_id, {band} AS band, "
            + duckdb_hash64_sql(f"concat_ws(',', {cols})")
            + " AS bucket FROM sig"
        )
    bands_sql = "\n            UNION ALL\n            ".join(band_rows)
    return f"""
        WITH sets AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(w) - {D.SHINGLE_N - 1}),
                       i -> array_to_string(w[i:i+{D.SHINGLE_N - 1}], ' '))) AS toks
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= {D.SHINGLE_N}
        ), tok AS (
            SELECT doc_id, unnest(toks) AS token FROM sets
        ), h AS (
            SELECT doc_id, {duckdb_hash32_sql('token')} AS h FROM tok
        ), sig AS (
            SELECT doc_id,
               {mins}
            FROM h GROUP BY doc_id
        ), banded AS (
            {bands_sql}
        ), cand AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT c.id_a, c.id_b,
                   round(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
            FROM cand c
            JOIN sets a ON a.doc_id = c.id_a
            JOIN sets b ON b.doc_id = c.id_b
        ) WHERE jaccard >= {D.JACCARD_THRESHOLD}
    """


def _simhash_oracle() -> str:
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(D.SIMHASH_BITS)
    )
    recompose = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(D.SIMHASH_BITS)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), h AS (
            SELECT doc_id, {duckdb_hash32_sql('token')} AS h FROM tok
        ), s AS (
            SELECT doc_id,
               {bit_sums}
            FROM h GROUP BY doc_id
        )
        SELECT doc_id, ({recompose})::BIGINT AS simhash FROM s
    """


# --- dedup ----------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
        SELECT {duckdb_hash64_sql('text')} AS content_hash,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    doc="""Exact dedup via content-hash groupBy — shuffles (hash, id)
    pairs only, never payloads (operators/dedup.py:exact_dedup_groups).""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(load_table(spark, "documents", sf_dir))


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(),
    doc="""MinHash(k=32) + LSH(8×4 bands) near-dup pairs with exact
    Jaccard verification ≥ 0.5 (operators/dedup.py).  The oracle
    replays the identical signature/banding math in DuckDB — the
    portable hash family makes the sketch engine-independent.""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_near_dups(load_table(spark, "documents", sf_dir))


@register(
    "dedup_clusters_minhash",
    oracle=f"""
        WITH RECURSIVE pairs AS (
            SELECT id_a, id_b FROM ({_minhash_lsh_oracle()}) t
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
        )
        SELECT src AS member_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    """,
    doc="""Dedup clustering over the TEXT near-dup pairs: connected
    components on the MinHash+LSH verified pairs — the minhash twin of
    dedup_clusters_embedding, so both pair generators feed the same
    iterative min-label propagation
    (operators/dedup.py:connected_components).  Oracle: the identical
    fixpoint as a recursive CTE over the replayed signature math.""",
)
def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    return connected_components(dedup_minhash_lsh(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(w) - 2),
                       i -> array_to_string(w[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= 3
        ), inv AS (
            SELECT doc_id, len(s) AS n_sh, unnest(s) AS sh FROM sh WHERE len(s) > 0
        ), ov AS (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                   any_value(l.n_sh) AS n_a, any_value(r.n_sh) AS n_b,
                   count(*) AS n_common
            FROM inv l JOIN inv r ON l.sh = r.sh AND l.doc_id < r.doc_id
            GROUP BY l.doc_id, r.doc_id
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   round(n_common::DOUBLE / (n_a + n_b - n_common), 6) AS jaccard
            FROM ov
        ) WHERE jaccard >= 0.5
    """,
    doc="""Word-3-gram shingle Jaccard near-dup via inverted-index
    candidate join with PPJoin prefix + positional + length filters
    (lossless for Jaccard >= 0.5) — hot shingles never enter the index,
    never the O(n²) pair space (operators/dedup.py:ngram_jaccard_pairs).""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(load_table(spark, "documents", sf_dir), n=3, threshold=0.5)


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc="""24-bit SimHash per document — per-bit majority over token
    hashes in one grouped aggregation (operators/dedup.py:simhash).""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(load_table(spark, "documents", sf_dir))


def _simhash_pairs_oracle() -> str:
    bpb = D.SIMHASH_BITS // D.SIMHASH_BANDS
    mask = (1 << bpb) - 1
    return f"""
        WITH sims AS ({_simhash_oracle()}),
        banded AS (
            SELECT doc_id, simhash, band,
                   (simhash >> (band * {bpb})) & {mask} AS chunk
            FROM sims CROSS JOIN (
                SELECT unnest(generate_series(0, {D.SIMHASH_BANDS - 1})) AS band)
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {D.SIMHASH_HAMMING_MAX}
    """


@register(
    "dedup_simhash_pairs",
    oracle=_simhash_pairs_oracle(),
    doc="""SimHash near-dup *pairs*: banded candidate join + exact
    Hamming verify (operators/dedup.py:simhash_near_dup_pairs).
    Pigeonhole over 4 disjoint 6-bit bands makes the candidate filter
    lossless for Hamming ≤ 3 — the join shuffles |docs|×4 tiny rows,
    never the O(n²) pair space.""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_dup_pairs(load_table(spark, "documents", sf_dir))


EMBED_DUP_THRESHOLD = 0.4  # tuned to the synthetic corpus (max pair ≈ 0.51)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        )
        SELECT id_a, id_b, cosine_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        ) WHERE cosine_sim >= {EMBED_DUP_THRESHOLD}
    """,
    doc="""Embedding-cosine near-duplicate pairs (north star).  Declared
    form is the exact all-pairs baseline (broadcast nested-loop —
    fine at sf, O(n²) by definition); the 100 TB path runs the same
    scoring inside IVF buckets (operators/similarity.py:
    cosine_topk_bucketed's assignment) so only same-cluster pairs are
    scored.""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms hoisted to per-row columns before the pair join (round-10,
    # similarity.cosine_with_norms): the interpreted norm fold runs
    # once per ROW instead of once per pair per side; bit-identical.
    from ..operators.similarity import _norm, cosine_with_norms

    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("_na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("_nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms(
                    F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= EMBED_DUP_THRESHOLD)
    )


LSH_DUP_THRESHOLD = 0.4  # same threshold as dedup_embedding_cosine


@register(
    "dedup_embedding_lsh",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        buckets AS (
            SELECT vec_id, v, band,
                   list_sum(list_transform(generate_series(0, {LSH_BITS - 1}),
                       d -> CASE WHEN v[band * {LSH_BITS} + d + 1] > 0
                                 THEN (1 << d) ELSE 0 END)) AS bucket
            FROM e CROSS JOIN (
                SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band)
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               round(list_dot_product(ea.v, eb.v)
                     / (sqrt(list_dot_product(ea.v, ea.v))
                        * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cosine_sim
        FROM cand
        JOIN e ea ON ea.vec_id = cand.id_a
        JOIN e eb ON eb.vec_id = cand.id_b
        WHERE round(list_dot_product(ea.v, eb.v)
                    / (sqrt(list_dot_product(ea.v, ea.v))
                       * sqrt(list_dot_product(eb.v, eb.v))), 6)
              >= {LSH_DUP_THRESHOLD}
    """,
    doc="""Embedding near-dup via banded sign-LSH (north star scale
    path).  Each vector hashes into {LSH_BANDS} band buckets from the
    sign pattern of 8 dims; only same-(band,bucket) pairs are scored —
    candidate generation is a shuffle-partitioned equi-join on
    (band, bucket) instead of the all-pairs nested loop in
    dedup_embedding_cosine, so it scales to corpora where O(n²) cannot
    run.  Approximate by construction (recall < 1 vs the exact
    baseline); the oracle verifies the *declared LSH semantics*
    exactly.""",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return pair_cosine(sign_lsh_pairs(e), e).where(
        F.col("cosine_sim") >= LSH_DUP_THRESHOLD
    )


# The dedup_embedding_lsh pairs as a reusable CTE body (identical SQL to
# its oracle above, minus the leading WITH).
_LSH_PAIRS_CTES = f"""
        e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        buckets AS (
            SELECT vec_id, v, band,
                   list_sum(list_transform(generate_series(0, {LSH_BITS - 1}),
                       d -> CASE WHEN v[band * {LSH_BITS} + d + 1] > 0
                                 THEN (1 << d) ELSE 0 END)) AS bucket
            FROM e CROSS JOIN (
                SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band)
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buckets a JOIN buckets b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ),
        pairs AS (
            SELECT id_a, id_b
            FROM cand
            JOIN e ea ON ea.vec_id = cand.id_a
            JOIN e eb ON eb.vec_id = cand.id_b
            WHERE round(list_dot_product(ea.v, eb.v)
                        / (sqrt(list_dot_product(ea.v, ea.v))
                           * sqrt(list_dot_product(eb.v, eb.v))), 6)
                  >= {LSH_DUP_THRESHOLD}
        )
"""


@register(
    "dedup_clusters_embedding",
    oracle=f"""
        WITH RECURSIVE
        {_LSH_PAIRS_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
        )
        SELECT src AS member_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    """,
    doc="""Dedup *clustering* (iterative algorithm): connected
    components over the sign-LSH near-dup pairs — each member mapped to
    its cluster's canonical (minimum) id, the keep-one-representative
    step of a dedup pipeline.  Spark side iterates min-label
    propagation to fixpoint (operators/dedup.py:connected_components,
    one keyed shuffle per round, O(diameter) rounds); the oracle
    computes the same fixpoint with a recursive CTE.""",
)
def dedup_clusters_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    return connected_components(dedup_embedding_lsh(spark, sf_dir))


@register(
    "fuzzy_match_levenshtein",
    oracle="""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               levenshtein(a.c_name, b.c_name) AS edit_dist
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
        WHERE a.c_custkey < 60 AND b.c_custkey < 60
          AND levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="""Fuzzy record linkage by edit distance: candidate pairs whose
    names are within 1 edit (classic entity-resolution primitive;
    levenshtein is an exact integer DP both engines compute
    identically).  The declared form is a bounded all-pairs check; the
    100 TB path is fuzzy_match_blocked, which generates candidates by
    deletion-neighborhood blocking and scores only within blocks.""",
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).where(F.col("c_custkey") < 60)
    a = c.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"))
    b = c.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.levenshtein("name_a", "name_b").alias("edit_dist")
        )
        .where(F.col("edit_dist") <= 1)
    )


@register(
    "fuzzy_match_blocked",
    oracle="""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               levenshtein(a.c_name, b.c_name) AS edit_dist
        FROM customer a JOIN customer b
          ON a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="""Fuzzy record linkage, SCALE PATH: deletion-neighborhood
    blocking (SymSpell/FastSS).  Each name explodes into itself plus its
    single-character-deletion variants (len+1 block keys); any pair
    within edit distance 1 provably shares a block key, so candidates
    come from an EQUI-join on the key — no theta join anywhere — and
    only candidates get the exact levenshtein verify.  Work is
    O(n·len) block rows + within-block pairs instead of O(n²); the
    oracle is the all-pairs ground truth (fine at gate scale, which is
    exactly why the blocked form exists).  Same contract as
    fuzzy_match_levenshtein but over the FULL customer table.""",
)
def fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    # Block key i=0 is the string itself; i>=1 deletes the i-th char.
    variants = c.select(
        "id",
        "name",
        F.explode(F.sequence(F.lit(0), F.length("name"))).alias("i"),
    ).select(
        "id",
        "name",
        F.when(F.col("i") == 0, F.col("name"))
        .otherwise(
            F.expr("concat(substring(name, 1, i - 1), substring(name, i + 1, length(name)))")
        )
        .alias("block"),
    )
    # Round-11 (guide §2.3/§3.6 and §8 "decide with small rows, move
    # heavy payloads once"; the _basket_pairs pattern): the old shape
    # SELF-JOINED the variant rows on the block key — two full
    # exchanges of (id, name, block) occurrence rows — and then paid a
    # third exchange deduplicating (id_a, id_b) pairs STILL CARRYING
    # both name strings.  Dedup pairs BEFORE scoring stays (candidate
    # occurrences outnumber distinct pairs ~5.5x at sf0.1; the O(len²)
    # levenshtein DP per occurrence costs more than the dedup), but:
    # - per-block sorted distinct id ARRAYS build in ONE exchange
    #   (collect_set dedups duplicate (id, block) variants map-side —
    #   the old join emitted those as duplicate occurrences and
    #   dropDuplicates paid for them),
    # - u < v candidate pairs come from chained posexplode/slice
    #   generators (no join, no second exchange) and dedup on the two
    #   id columns, so the dedup exchange carries two longs per
    #   occurrence instead of two ids + two names (no packing into one
    #   long: custkeys pass 2^32 above SF ~28.6k),
    # - names re-attach AFTER the dedup via two equi-joins against the
    #   customer projection (AQE broadcasts them at gate scale; at
    #   100 TB they are key-joins on the already-deduped narrow pair
    #   frame — names cross the network once, not once per occurrence).
    # Pair multiset is identical: distinct u < v pairs sharing >= 1
    # block key either way; the all-pairs oracle pins it.
    blocks = variants.groupBy("block").agg(
        F.sort_array(F.collect_set("id")).alias("ids")
    )
    cand = (
        blocks.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.expr("slice(ids, i + 2, size(ids) - i - 1)")
            ).alias("id_b"),
        )
        .distinct()
    )
    return (
        cand.join(
            c.select(F.col("id").alias("id_a"), F.col("name").alias("name_a")),
            "id_a",
        )
        .join(
            c.select(F.col("id").alias("id_b"), F.col("name").alias("name_b")),
            "id_b",
        )
        .select(
            "id_a", "id_b", F.levenshtein("name_a", "name_b").alias("edit_dist")
        )
        .where(F.col("edit_dist") <= 1)
    )


@register(
    "dedup_cluster_canonical",
    oracle=f"""
        WITH RECURSIVE
        {_LSH_PAIRS_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
        ),
        cc AS (
            SELECT src AS member_id, least(src, min(dst)) AS cluster_id
            FROM reach GROUP BY src
        ),
        ranked AS (
            SELECT cc.cluster_id,
                   d.doc_id,
                   d.n_chars,
                   count(*) OVER (PARTITION BY cc.cluster_id)::BIGINT
                       AS n_members,
                   row_number() OVER (PARTITION BY cc.cluster_id
                                      ORDER BY d.n_chars DESC, d.doc_id)
                       AS rn
            FROM cc JOIN documents d ON d.doc_id = cc.member_id
        )
        SELECT cluster_id,
               doc_id AS canonical_doc_id,
               n_chars AS canonical_chars,
               n_members
        FROM ranked WHERE rn = 1
    """,
    doc="""Canonical-representative selection — the "keep one" step that
    turns near-dup clusters into a deduplicated corpus: each connected
    component of the embedding-LSH near-dup graph elects the member
    with the most content (max n_chars, doc_id tiebreak).  Spark side:
    min-label-propagation connected components (one keyed shuffle per
    round), a join to documents on the member id, then windows
    PARTITIONED BY cluster_id — no global window, no driver-side data.
    The oracle recomputes the fixpoint with a recursive CTE and the
    same ranked election.  doc_id and vec_id share an id space in the
    testdata (TESTDATA.md).""",
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    cc = connected_components(dedup_embedding_lsh(spark, sf_dir))
    docs = load_table(spark, "documents", sf_dir)
    joined = cc.join(docs, cc.member_id == docs.doc_id)
    w = Window.partitionBy("cluster_id")
    ranked = joined.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.count("*").over(w).alias("n_members"),
        F.row_number()
        .over(w.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rn"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc_id"),
        F.col("n_chars").alias("canonical_chars"),
        "n_members",
    )


# A shingle is "boilerplate" when it appears in at least this many
# distinct documents (C4/CCNet-style template detection: navigation
# chrome, license headers, cookie banners repeat across pages).
BP_MIN_DF = 5


# Documents whose shingles are mostly boilerplate get dropped.
BP_MAX_RATIO = 0.5


@register(
    "boilerplate_shingle_prune",
    oracle=f"""
        WITH sets AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(w) - {SHINGLE_N - 1}),
                       i -> array_to_string(w[i:i+{SHINGLE_N - 1}], ' '))) AS toks
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= {SHINGLE_N}
        ), ex AS (
            SELECT doc_id, unnest(toks) AS shingle FROM sets
        ), dfc AS (
            SELECT shingle, count(*) AS df FROM ex GROUP BY shingle
        ), bp AS (
            SELECT shingle FROM dfc WHERE df >= {BP_MIN_DF}
        )
        SELECT e.doc_id,
               count(*)::BIGINT AS n_shingles,
               count(b.shingle)::BIGINT AS n_boilerplate,
               round(count(b.shingle)::DOUBLE / count(*), 6) AS bp_ratio,
               (count(b.shingle)::DOUBLE / count(*)) <= {BP_MAX_RATIO} AS keep
        FROM ex e LEFT JOIN bp b ON e.shingle = b.shingle
        GROUP BY e.doc_id
    """,
    doc=f"""Intra-corpus boilerplate detection (C4/CCNet template
    pruning): {SHINGLE_N}-gram shingles appearing in >= {BP_MIN_DF}
    distinct documents are boilerplate; each document reports its
    boilerplate shingle ratio and a keep/drop flag (drop when more
    than half the document is template text).  Scale shape: document
    frequency is ONE shuffled groupBy over per-doc-distinct shingles
    (the same vocabulary-keyed shuffle the minhash family already
    pays), and the boilerplate set is bounded by construction —
    |set| <= total_shingles / {BP_MIN_DF} and shrinks as the threshold
    scales with corpus size — so it broadcast-joins back to the
    per-document pass; no all-pairs stage, no global window.""",
)
def boilerplate_shingle_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # Persisted: the exploded shingle frame feeds BOTH the document-
    # frequency aggregate and the join-back pass, and shingle
    # construction dominates the query (dropping this persist measured
    # 3.8 s → 5.6 s at sf0.1).  Cache lifetime is one query: bench.py
    # and tools/check_correctness.py clearCache() between queries, so
    # the entry never accumulates across a suite run; at 100 TB this
    # materialization is an explicit checkpoint of the shingle table
    # (disk-backed), not an executor-memory cache.
    ex = (
        shingle_sets(docs)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .persist()
    )
    # shingle_sets emits per-doc DISTINCT shingles, so count(*) per
    # shingle == distinct-document frequency.
    bp = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= BP_MIN_DF)
        .select("shingle", F.lit(1).alias("is_bp"))
    )
    ratio = F.col("n_boilerplate") / F.col("n_shingles")
    return (
        ex.join(F.broadcast(bp), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce("is_bp", F.lit(0))).cast("long").alias("n_boilerplate"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boilerplate",
            F.round(ratio, 6).alias("bp_ratio"),
            (ratio <= BP_MAX_RATIO).alias("keep"),
        )
    )


# Span length for cross-document repeated-substring coverage.
SPAN_N = 5


# Shared oracle CTEs for the repeated-span family (coverage + the
# round-8 islands extension): t/sh/flat enumerate every SPAN_N-token
# span with its 1-based position; rep keeps spans in >= 2 documents.
SPAN_FLAT_CTES = f"""
        t AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n_toks
            FROM documents
        ), sh AS (
            SELECT doc_id, n_toks,
                   unnest(list_transform(
                       generate_series(1, len(w) - {SPAN_N - 1}),
                       i -> struct_pack(pos := i,
                                        g := array_to_string(
                                            w[i:i+{SPAN_N - 1}], ' ')))) AS s
            FROM t WHERE len(w) >= {SPAN_N}
        ), flat AS (
            SELECT doc_id, n_toks, s.pos AS pos, s.g AS g FROM sh
        ), rep AS (
            SELECT g FROM flat GROUP BY g
            HAVING count(DISTINCT doc_id) >= 2
        )
"""


def repeated_span_flat(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared span machinery for the repeated-substring family: returns
    ``(flat, rep)`` where ``flat`` is one (doc_id, n_toks, pos, g) row
    per {SPAN_N}-token span and ``rep`` is the set of span texts seen in
    >= 2 distinct documents.  Extracted verbatim from
    ``repeated_span_coverage`` (value-neutral) so the round-8 span-merge
    extension (``repeated_span_islands``) reuses one definition."""
    toks = tokens("text")
    base = docs.select(
        "doc_id", F.size(toks).alias("n_toks"), toks.alias("w")
    )
    flat = (
        base.where(F.col("n_toks") >= SPAN_N)
        .select(
            "doc_id",
            "n_toks",
            F.explode(
                F.transform(
                    # Upper bound clamped to 1 (shingle_sets rationale):
                    # the explode's pushed-down size guard plus codegen
                    # CSE can evaluate this on rows the n_toks filter
                    # excludes, and a short doc's descending sequence
                    # would crash slice(start=0).
                    F.sequence(
                        F.lit(1),
                        F.greatest(
                            F.col("n_toks") - (SPAN_N - 1), F.lit(1)
                        ),
                    ),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.concat_ws(" ", F.slice("w", i, SPAN_N)).alias("g"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "n_toks", "s.pos", "s.g")
    )
    # "Seen in >= 2 distinct documents" as min(doc_id) != max(doc_id) —
    # value-identical to countDistinct(doc_id) >= 2 (doc_id is non-null)
    # but a SINGLE partial-aggregated pass: countDistinct plans as a
    # two-phase distinct expansion (an extra aggregate + exchange over
    # (g, doc_id)) that this span-text-keyed shuffle paid on every
    # consumer (round-11, guide §2.3).
    rep = (
        flat.groupBy("g")
        .agg(F.min("doc_id").alias("_d0"), F.max("doc_id").alias("_d1"))
        .where(F.col("_d0") != F.col("_d1"))
        .select("g")
    )
    return flat, rep


@register(
    "repeated_span_coverage",
    oracle=f"""
        WITH {SPAN_FLAT_CTES}, covered AS (
            SELECT DISTINCT f.doc_id, f.n_toks, cp.cp
            FROM flat f
            JOIN rep r ON f.g = r.g,
            LATERAL (SELECT unnest(generate_series(f.pos,
                                    f.pos + {SPAN_N - 1})) AS cp) cp
        ), cov AS (
            SELECT doc_id, n_toks, count(*) AS n_covered
            FROM covered GROUP BY doc_id, n_toks
        )
        SELECT t.doc_id,
               t.n_toks::BIGINT AS n_toks,
               coalesce(c.n_covered, 0)::BIGINT AS n_covered,
               round(coalesce(c.n_covered, 0)::DOUBLE / t.n_toks, 6)
                   AS coverage
        FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id
    """,
    doc=f"""Cross-document repeated-substring coverage (the statistic
    behind exact-substring dedup, Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): every {SPAN_N}-token
    span occurring in ≥ 2 distinct documents marks its token positions
    as duplicated text; each document reports the fraction of its
    tokens covered by the union of such spans.  Scale shape: one
    span-keyed groupBy finds repeated spans (the same vocabulary-keyed
    shuffle as the dedup family — bounded two-pass pruning applies the
    same way as heavy_hitters_twopass), a semi-join keeps repeated
    occurrences, and coverage is a per-document distinct-position
    count — no all-pairs stage, no window.""",
)
def repeated_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    flat, rep = repeated_span_flat(docs)
    cov = (
        flat.join(rep, "g", "left_semi")
        .select(
            "doc_id",
            "n_toks",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SPAN_N - 1))
            ).alias("cp"),
        )
        .distinct()
        .groupBy("doc_id", "n_toks")
        .agg(F.count("*").alias("n_covered"))
    )
    return (
        docs.select("doc_id", F.size(tokens("text")).cast("long").alias("n_toks"))
        .join(cov.select("doc_id", "n_covered"), "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0)) / F.col("n_toks"), 6
            ).alias("coverage"),
        )
    )


def _containment_oracle() -> str:
    from ..operators.dedup import CONTAINMENT_THRESHOLD
    base = _minhash_lsh_oracle()
    # Share the signature/banding/candidate CTEs with the minhash
    # oracle; only the verification metric differs.
    prefix = base[: base.index("SELECT id_a, id_b, jaccard")]
    return (
        prefix
        + f"""
        SELECT id_a, id_b, containment_a_in_b, containment_b_in_a FROM (
            SELECT c.id_a, c.id_b,
                   round(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / len(a.toks), 6) AS containment_a_in_b,
                   round(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / len(b.toks), 6) AS containment_b_in_a,
                   greatest(
                       len(list_intersect(a.toks, b.toks))::DOUBLE / len(a.toks),
                       len(list_intersect(a.toks, b.toks))::DOUBLE / len(b.toks)
                   ) AS cmax
            FROM cand c
            JOIN sets a ON a.doc_id = c.id_a
            JOIN sets b ON b.doc_id = c.id_b
        ) WHERE cmax >= {CONTAINMENT_THRESHOLD}
    """
    )


@register(
    "dedup_containment",
    oracle=_containment_oracle(),
    doc="""Asymmetric containment (quote/excerpt) detection
    (operators/dedup.py:containment_near_dups): the minhash-LSH
    candidate machinery with |A∩B|/|side| verification in both
    directions — catches a document being an excerpt of another even
    when symmetric Jaccard is modest.  Shares the one
    signature-banding shuffle with the near-dup pipeline; exact
    verification touches candidates only.""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_near_dups

    return containment_near_dups(load_table(spark, "documents", sf_dir))


def _containment_banded_oracle() -> str:
    from ..operators.dedup import CONTAINMENT_THRESHOLD as T

    inter = "len(list_intersect(a.toks, b.toks))::DOUBLE"
    return f"""
        WITH sets AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(w) - {SHINGLE_N - 1}),
                       i -> array_to_string(w[i:i+{SHINGLE_N - 1}], ' '))) AS toks
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= {SHINGLE_N}
        ), posting AS (
            SELECT doc_id AS pid, unnest(toks) AS sh FROM sets
        ), dfreq AS (
            SELECT sh, count(*) AS dfreq FROM posting GROUP BY sh
        ), ranked AS (
            SELECT p.pid, p.sh,
                   row_number() OVER (PARTITION BY p.pid
                                      ORDER BY d.dfreq, p.sh) AS rn,
                   count(*) OVER (PARTITION BY p.pid) AS n
            FROM posting p JOIN dfreq d USING (sh)
        ), pref AS (
            SELECT pid, sh FROM ranked WHERE rn <= floor({1.0 - T!r} * n) + 1
        ), cand AS (
            SELECT DISTINCT least(p.pid, q.pid) AS id_a,
                            greatest(p.pid, q.pid) AS id_b
            FROM pref p JOIN posting q USING (sh) WHERE p.pid <> q.pid
        )
        SELECT id_a, id_b, containment_a_in_b, containment_b_in_a FROM (
            SELECT c.id_a, c.id_b,
                   round({inter} / len(a.toks), 6) AS containment_a_in_b,
                   round({inter} / len(b.toks), 6) AS containment_b_in_a,
                   greatest({inter} / len(a.toks),
                            {inter} / len(b.toks)) AS cmax
            FROM cand c
            JOIN sets a ON a.doc_id = c.id_a
            JOIN sets b ON b.doc_id = c.id_b
        ) WHERE cmax >= {T}
    """


@register(
    "dedup_containment_banded",
    oracle=_containment_banded_oracle(),
    doc="""LOSSLESS excerpt-direction containment
    (operators/dedup.py:containment_prefix_pairs): every doc probes its
    floor((1-t)*n)+1 globally-RAREST shingles against the full corpus
    posting list — the prefix-filter guarantee means any pair whose
    smaller side is >= t contained in the larger becomes a candidate
    regardless of the size ratio, closing the tiny-excerpt-in-huge-doc
    recall gap inherent to the Jaccard-banded dedup_containment.
    Linear posting-list footprint, rare-shingle probes, equi-joins
    only; exact verification touches candidates only.""",
)
def dedup_containment_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_prefix_pairs

    return containment_prefix_pairs(load_table(spark, "documents", sf_dir))


# Shared by entity_fuzzy_clusters and survivorship_golden_record:
# the recursive-closure ground truth for the
# customer entity clusters, as reusable CTE text ending in a `clusters`
# CTE of (member_id, cluster_id).
ER_CLUSTERS_CTES = """
        WITH RECURSIVE pairs AS (
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
            FROM customer a JOIN customer b
              ON a.c_custkey < b.c_custkey
             AND a.c_nationkey = b.c_nationkey
            WHERE levenshtein(a.c_name, b.c_name) <= 1
        ), bi AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT src, dst FROM bi
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN bi e2 ON r.dst = e2.src
        ), clusters AS (
            SELECT src AS member_id, least(src, min(dst)) AS cluster_id
            FROM reach GROUP BY src
        )
"""


def customer_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compound-blocked fuzzy customer pair generator behind
    entity_fuzzy_clusters AND survivorship_golden_record: exact-nation
    block AND SymSpell deletion-neighborhood block, then levenshtein
    <= 1 verification on candidates only (all equi-joins)."""
    c = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
    )
    # Block key i=0 is the string itself; i>=1 deletes the i-th char
    # (fuzzy_match_blocked's deletion neighborhood, plus the exact
    # nation attribute in the join key).
    variants = c.select(
        "id",
        "name",
        "nation",
        F.explode(F.sequence(F.lit(0), F.length("name"))).alias("i"),
    ).select(
        "id",
        "name",
        "nation",
        F.when(F.col("i") == 0, F.col("name"))
        .otherwise(
            F.expr(
                "concat(substring(name, 1, i - 1),"
                " substring(name, i + 1, length(name)))"
            )
        )
        .alias("block"),
    )
    a = variants.select(
        F.col("id").alias("id_a"), F.col("name").alias("name_a"),
        "nation", "block",
    )
    b = variants.select(
        F.col("id").alias("id_b"), F.col("name").alias("name_b"),
        "nation", "block",
    )
    return (
        a.join(b, ["nation", "block"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "name_a", "name_b")
        .distinct()
        .where(F.levenshtein("name_a", "name_b") <= 1)
    )


@register(
    "entity_fuzzy_clusters",
    oracle=ER_CLUSTERS_CTES
    + """
        SELECT member_id, cluster_id FROM clusters
    """,
    doc="""Entity resolution end-to-end: compound-blocked fuzzy matching
    feeds connected components (the alternating large/small-star
    operator), so transitively-linked record variants collapse into one
    entity cluster keyed by its minimum member id — the dedup-a-CRM
    pipeline as one declared query.  Blocking is COMPOUND, the standard
    ER design (Fellegi-Sunter / dedupe.io practice): a candidate pair
    must agree on a reliable exact attribute (nation) AND share a
    SymSpell deletion-neighborhood key of the name — both equi-join
    conditions, no theta join; only candidates get the exact
    levenshtein verify.  The exact-attribute block also keeps the
    match graph from degenerating into one giant component (the
    synthetic names differ pairwise by single digits), which is
    precisely the pathological shape real ER blocking exists to
    prevent.  The oracle replays the all-pairs ground truth with a
    recursive-CTE closure.""",
)
def entity_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    return connected_components(customer_match_pairs(spark, sf_dir))


@register(
    "survivorship_golden_record",
    oracle=ER_CLUSTERS_CTES
    + """
        , m AS (
            SELECT cl.cluster_id, c.c_custkey, c.c_name, c.c_acctbal,
                   c.c_mktsegment
            FROM clusters cl JOIN customer c ON c.c_custkey = cl.member_id
        ), agg AS (
            SELECT cluster_id, count(*)::BIGINT AS n_members,
                   min(c_name) AS canonical_name,
                   round(sum(c_acctbal), 2) AS total_acctbal
            FROM m GROUP BY cluster_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM m
        )
        SELECT a.cluster_id, a.n_members, a.canonical_name,
               r.c_mktsegment AS rep_segment,
               round(r.c_acctbal, 2) AS rep_acctbal,
               a.total_acctbal
        FROM agg a JOIN ranked r
          ON r.cluster_id = a.cluster_id AND r.rn = 1
    """,
    doc="""Golden-record survivorship — the step AFTER entity resolution
    that real MDM/CRM dedup pipelines need: each resolved entity
    cluster (the entity_fuzzy_clusters connected components) publishes
    ONE record via deterministic survivorship rules: canonical name =
    lexicographic minimum, representative segment/balance = the
    highest-balance member (custkey tiebreak), plus member count and
    total balance.  Scale shape: clusters come from the alternating-
    star CC operator; survivorship itself is one grouped aggregate plus
    one per-cluster window (partitioned by cluster, never global) on
    |matched members| rows — tiny relative to the corpus.  The oracle
    replays the recursive-closure ground truth and the same rules.""",
)
def survivorship_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    cc = connected_components(customer_match_pairs(spark, sf_dir))
    c = load_table(spark, "customer", sf_dir)
    m = cc.join(c, cc.member_id == c.c_custkey).select(
        "cluster_id", "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    agg = m.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min("c_name").alias("canonical_name"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    rep = (
        m.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("c_mktsegment").alias("rep_segment"),
            F.round("c_acctbal", 2).alias("rep_acctbal"),
        )
    )
    return agg.join(rep, "cluster_id").select(
        "cluster_id",
        "n_members",
        "canonical_name",
        "rep_segment",
        "rep_acctbal",
        "total_acctbal",
    )


@register(
    "split_leakage_audit",
    oracle=f"""
        SELECT id_a, id_b, jaccard, split_a, split_b FROM (
            SELECT id_a, id_b, jaccard,
                   CASE WHEN {duckdb_hash32_sql('id_a::VARCHAR')} % 100 < 90
                        THEN 'train' ELSE 'test' END AS split_a,
                   CASE WHEN {duckdb_hash32_sql('id_b::VARCHAR')} % 100 < 90
                        THEN 'train' ELSE 'test' END AS split_b
            FROM ({_minhash_lsh_oracle()}) nd
        ) WHERE split_a <> split_b
    """,
    doc="""Train/test LEAKAGE audit — the check every eval pipeline
    needs after splitting: verified MinHash-LSH near-duplicate pairs
    (Jaccard >= 0.5) whose members land on OPPOSITE sides of the
    deterministic 90/10 hash split (dataset_split_train_test's exact
    bucket rule).  A non-empty result means test examples have
    near-copies in train — benchmark contamination by duplication,
    invisible to exact-match decontamination.  Scale shape: the
    near-dup pair list is the already-banded LSH candidate machinery
    (never |docs|^2); split labels are a pure column expression on the
    pair rows.""",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_near_dups

    pairs = minhash_lsh_near_dups(load_table(spark, "documents", sf_dir))

    def split(col: str) -> F.Column:
        return F.when(
            portable_hash32(F.col(col).cast("string")) % 100 < 90, "train"
        ).otherwise("test")

    return pairs.select(
        "id_a",
        "id_b",
        "jaccard",
        split("id_a").alias("split_a"),
        split("id_b").alias("split_b"),
    ).where(F.col("split_a") != F.col("split_b"))


@register(
    "near_dup_agreement_audit",
    oracle=f"""
        WITH mh AS (
            SELECT id_a, id_b FROM ({_minhash_lsh_oracle()}) m
        ), sh AS (
            SELECT id_a, id_b FROM ({_simhash_pairs_oracle()}) s
        ), b AS (
            SELECT count(*)::BIGINT AS n_both
            FROM mh JOIN sh USING (id_a, id_b)
        )
        SELECT (SELECT count(*) FROM mh)::BIGINT AS n_minhash,
               (SELECT count(*) FROM sh)::BIGINT AS n_simhash,
               n_both,
               round(1e6 * n_both / (SELECT count(*) FROM sh))::BIGINT
                   AS precision_micros,
               round(1e6 * n_both / (SELECT count(*) FROM mh))::BIGINT
                   AS recall_micros
        FROM b
    """,
    doc="""Near-dup DETECTOR AGREEMENT audit — treats the cheap
    detector (24-bit SimHash, Hamming <= 3) as a predictor of the
    expensive one (MinHash-LSH, exact Jaccard >= 0.5) and reports
    pair-set sizes, overlap, precision and recall.  This is the
    estimator-quality check the per-detector hash gates cannot see:
    each detector's own oracle replays its own math, so only a
    CROSS-detector comparison reveals whether the fast screen is
    actually predictive on this corpus.  Scale shape: both pair lists
    are banded candidate machinery; the overlap is one equi-join on
    (id_a, id_b) plus scalar counts — bounded single-row output.""",
)
def near_dup_agreement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_near_dups, simhash_near_dup_pairs
    from ..operators.overlap import run_concurrently

    docs = load_table(spark, "documents", sf_dir)
    # Round-10 (session 2): the final plan referenced each detector's
    # pair frame TWICE (its own count + the overlap join) with no
    # exchange reuse across the subtrees, so BOTH full dedup pipelines
    # ran twice in one action.  Pin each pair list once — they are
    # bounded candidate lists, the dedup-pair lifecycle — and run the
    # two INDEPENDENT pipelines from driver threads (guide §2.6,
    # the change-3 overlap pattern) so one branch's job gaps back-fill
    # with the other's tasks.
    mh, sh = run_concurrently(
        [
            lambda: minhash_lsh_near_dups(docs)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True),
            lambda: simhash_near_dup_pairs(docs)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True),
        ]
    )
    n_mh = mh.agg(F.count("*").cast("long").alias("n_minhash"))
    n_sh = sh.agg(F.count("*").cast("long").alias("n_simhash"))
    n_both = mh.join(sh, ["id_a", "id_b"]).agg(
        F.count("*").cast("long").alias("n_both")
    )
    return (
        n_both.crossJoin(F.broadcast(n_mh))
        .crossJoin(F.broadcast(n_sh))
        .select(
            "n_minhash",
            "n_simhash",
            "n_both",
            F.round(F.lit(1e6) * F.col("n_both") / F.col("n_simhash"))
            .cast("long")
            .alias("precision_micros"),
            F.round(F.lit(1e6) * F.col("n_both") / F.col("n_minhash"))
            .cast("long")
            .alias("recall_micros"),
        )
    )


@register(
    "cross_source_duplication_matrix",
    oracle=f"""
        WITH pairs AS ({_minhash_lsh_oracle()})
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*)::BIGINT AS n_pairs,
               round(avg(p.jaccard), 6) AS avg_jaccard
        FROM pairs p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
        GROUP BY 1, 2
    """,
    doc="""Which sources duplicate each other: MinHash-LSH verified
    near-dup pairs rolled up into a (source, source) matrix — the audit
    that exposes two crawls scraping the same sites (off-diagonal mass)
    versus a source republishing itself (diagonal mass), which decides
    whether dedup must run across source boundaries or can shard by
    source.  Reuses the dedup_minhash_lsh pair machinery verbatim (one
    banding shuffle, candidates-only verification) plus two id-keyed
    joins to attach sources and a |sources|²-bounded aggregate.""",
)
def cross_source_duplication_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators import dedup as D

    docs = load_table(spark, "documents", sf_dir)
    pairs = D.minhash_lsh_near_dups(docs)
    src = docs.select("doc_id", "source")
    joined = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        ).join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
    )
    return (
        joined.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


# --- Winnowing fingerprints ----------------------------------------------
WIN_K = 3  # k-gram size (tokens)


WIN_W = 4  # winnowing window (k-grams per window)


WIN_TOPK = 20


_WIN_HASH = duckdb_hash32_sql("gram")


@register(
    "winnowing_dup_pairs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM documents
        ), grams AS (
            SELECT doc_id, i,
                   tok || ' ' || lead(tok, 1) OVER w || ' '
                       || lead(tok, 2) OVER w AS gram,
                   count(*) OVER (PARTITION BY doc_id) AS n_toks
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY i)
            QUALIFY i + {WIN_K} - 1 <= n_toks
        ), hashed AS (
            SELECT doc_id, i, {_WIN_HASH} AS h,
                   count(*) OVER (PARTITION BY doc_id) AS n_grams
            FROM grams
        ), wmin AS (
            SELECT doc_id,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW
                                AND {WIN_W - 1} FOLLOWING) AS fp,
                   i, n_grams
            FROM hashed
            QUALIFY i + {WIN_W} - 1 <= n_grams
        ), fps AS (
            SELECT DISTINCT doc_id, fp FROM wmin
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*)::BIGINT AS shared_fps
        FROM fps a JOIN fps b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        ORDER BY shared_fps DESC, doc_a, doc_b LIMIT {WIN_TOPK}
    """,
    doc=f"""Winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD '03 — the MOSS plagiarism detector): hash every {WIN_K}-token
    k-gram (portable md5 family), keep the MINIMUM hash of every
    {WIN_W}-gram sliding window as a document fingerprint, and report
    the top-{WIN_TOPK} doc pairs by shared distinct fingerprints.  The
    guarantee MinHash cannot give: any shared token run of length ≥
    {WIN_W + WIN_K - 1} produces a shared fingerprint with certainty
    (not probability), while the selected set is ~2/(w+1) of all
    k-grams — position-aware near-dup detection between the shingle
    and signature families.  Scale shape: k-gram construction and
    window minima are doc-partitioned windows (never global); the pair
    report is a fingerprint-keyed equi-join over the winnowed
    (≈ 2n/(w+1)) sets — banded-dedup economics; ubiquitous
    (boilerplate) fingerprints would be pruned exactly like hot
    shingles in boilerplate_shingle_prune.""",
)
def winnowing_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    wd = W.partitionBy("doc_id").orderBy("i")
    grams = (
        toks.select(
            "doc_id",
            "i",
            F.concat_ws(
                " ", "tok", F.lead("tok", 1).over(wd), F.lead("tok", 2).over(wd)
            ).alias("gram"),
            F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("n_toks"),
        )
        .where(F.col("i") + WIN_K - 1 <= F.col("n_toks"))
        .select("doc_id", "i", portable_hash32("gram").alias("h"))
    )
    wmin = (
        grams.select(
            "doc_id",
            "i",
            F.min("h")
            .over(wd.rowsBetween(W.currentRow, WIN_W - 1))
            .alias("fp"),
            F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("n_grams"),
        )
        .where(F.col("i") + WIN_W - 1 <= F.col("n_grams"))
    )
    fps = wmin.select("doc_id", "fp").distinct()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
        .limit(WIN_TOPK)
    )


# --- document stitching ------------------------------------------------------
_STITCH_K = 3


@register(
    "doc_stitch_overlap",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
        ), k AS (
            SELECT doc_id,
                   array_to_string(toks[1:{_STITCH_K}], ' ') AS head,
                   array_to_string(toks[-{_STITCH_K}:], ' ') AS tail
            FROM t WHERE len(toks) >= {_STITCH_K}
        )
        SELECT a.doc_id AS left_doc_id, b.doc_id AS right_doc_id,
               a.tail AS overlap_text
        FROM k a JOIN k b
          ON a.tail = b.head AND a.doc_id <> b.doc_id
        ORDER BY left_doc_id, right_doc_id
    """,
    doc=f"""Ingest-stitching detector: pairs of documents where the
    left one's trailing {_STITCH_K} tokens exactly equal the right
    one's leading {_STITCH_K} tokens — the signature of an upstream
    splitter that broke one source document in two (pagination, size
    caps, crawler truncation).  Near-dup passes miss these by design
    (the two halves share almost NO content); the boundary window is
    the only witness.  Determinism: exact token-string equality on an
    equi-join — no hashing, no threshold.  Scale shape: one projection
    to (head, tail) per document, one string-keyed hash equi-join; at
    100 TB the join key becomes the 60-bit portable hash of the window
    with the string equality kept as the in-join verify (same plan,
    smaller exchange).  Documents shorter than {_STITCH_K} tokens are
    excluded on both sides (no boundary window exists).""",
)
def doc_stitch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split("text", " ")
    k = docs.where(F.size(toks) >= _STITCH_K).select(
        "doc_id",
        F.array_join(F.slice(toks, 1, _STITCH_K), " ").alias("head"),
        F.array_join(F.slice(toks, -_STITCH_K, _STITCH_K), " ").alias("tail"),
    )
    a, b = k.alias("a"), k.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tail") == F.col("b.head"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("left_doc_id"),
            F.col("b.doc_id").alias("right_doc_id"),
            F.col("a.tail").alias("overlap_text"),
        )
        .orderBy("left_doc_id", "right_doc_id")
    )


# --- LSH S-curve planner -----------------------------------------------------
_LSH_COMBOS: tuple[tuple[int, int], ...] = ((4, 8), (8, 4), (16, 2), (16, 4))


_LSH_SIMS: tuple[int, ...] = tuple(range(20, 100, 10))  # centi-similarities


def _sq_chain_sql(base: str, e: int) -> str:
    """x^e for e a power of two, as a repeated-squaring expression —
    identical IEEE multiplications in both engines (no libm pow)."""
    expr = base
    while e > 1:
        expr = f"({expr} * {expr})"
        e //= 2
    return expr


def _sq_chain_col(base: Column, e: int) -> Column:
    expr = base
    while e > 1:
        expr = expr * expr
        e //= 2
    return expr


def _sqrt_chain_sql(base: str, r: int) -> str:
    expr = base
    while r > 1:
        expr = f"sqrt({expr})"
        r //= 2
    return expr


def _sqrt_chain_col(base: Column, r: int) -> Column:
    expr = base
    while r > 1:
        expr = F.sqrt(expr)
        r //= 2
    return expr


def _lsh_oracle() -> str:
    rows = []
    for bands, rpb in _LSH_COMBOS:
        thr = _sqrt_chain_sql(f"(1.0 / {bands})", rpb)
        for sc in _LSH_SIMS:
            s = f"(({sc})::DOUBLE / 100)"
            p = f"(1 - {_sq_chain_sql(f'(1 - {_sq_chain_sql(s, rpb)})', bands)})"
            rows.append(
                f"({bands}, {rpb}, {sc}, "
                f"round(1000000 * {p})::BIGINT, "
                f"round(1000000 * {thr})::BIGINT)"
            )
    return f"""
        SELECT * FROM (VALUES
            {", ".join(rows)}
        ) t(bands, rows_per_band, sim_centi,
            collide_prob_micros, threshold_micros)
        ORDER BY bands, rows_per_band, sim_centi
    """


@register(
    "lsh_parameter_planner",
    oracle=_lsh_oracle(),
    doc=f"""Banded-minhash design table: the S-curve
    P(candidate | jaccard = s) = 1 − (1 − s^r)^b over the engine's
    (bands, rows-per-band) design space {_LSH_COMBOS} at similarities
    {{0.2..0.9}}, with each configuration's threshold (1/b)^(1/r) —
    the table behind dedup_minhash_lsh's 4×8 precision-leaning choice
    and the 8×4 recall variant BACKLOG notes for cosine-0.8 corpora.
    Determinism: NO libm pow — s^r and (·)^b are repeated-squaring
    chains and the threshold root is a sqrt chain, all correctly
    rounded IEEE ops, so both engines produce bit-identical doubles
    before the micros rounding.  Scale shape: a constant
    {len(_LSH_COMBOS) * len(_LSH_SIMS)}-row frame — the planner costs
    nothing at any scale; it exists so the LSH configuration is an
    AUDITABLE table instead of a code comment.""",
)
def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    combos = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bands).cast("long").alias("bands"),
                        F.lit(rpb).cast("long").alias("rows_per_band"),
                    )
                    for bands, rpb in _LSH_COMBOS
                ]
            )
        ).alias("c")
    ).select("c.bands", "c.rows_per_band")
    sims = F.explode(
        F.array(*[F.lit(sc).cast("long") for sc in _LSH_SIMS])
    ).alias("sim_centi")
    rows = combos.select("bands", "rows_per_band", sims)
    # The squaring/sqrt chain depth depends on (bands, rows_per_band),
    # so each combo gets its own branch of one chained CASE.
    prob_col: Column | None = None
    thr_col: Column | None = None
    for bands, rpb in _LSH_COMBOS:
        cond = (F.col("bands") == bands) & (F.col("rows_per_band") == rpb)
        s = F.col("sim_centi").cast("double") / 100
        p = F.round(
            1_000_000 * (1 - _sq_chain_col(1 - _sq_chain_col(s, rpb), bands))
        ).cast("long")
        thr = F.round(
            1_000_000 * _sqrt_chain_col(F.lit(1.0) / bands, rpb)
        ).cast("long")
        prob_col = F.when(cond, p) if prob_col is None else prob_col.when(cond, p)
        thr_col = F.when(cond, thr) if thr_col is None else thr_col.when(cond, thr)
    return rows.select(
        "bands",
        "rows_per_band",
        "sim_centi",
        prob_col.alias("collide_prob_micros"),
        thr_col.alias("threshold_micros"),
    ).orderBy("bands", "rows_per_band", "sim_centi")


# --- blocking cost audit --------------------------------------------------------
@register(
    "blocking_cost_audit",
    oracle="""
        WITH keys AS (
            SELECT 'o_custkey' AS blocking_key,
                   o_custkey::VARCHAR AS k
            FROM orders
            UNION ALL
            SELECT 'o_orderdate', o_orderdate::VARCHAR FROM orders
        ), grp AS (
            SELECT blocking_key, k, count(*)::BIGINT AS c
            FROM keys GROUP BY blocking_key, k
        ), agg AS (
            SELECT blocking_key,
                   (sum(c))::BIGINT AS n_rows,
                   count(*)::BIGINT AS ndv,
                   (sum((c * (c - 1)) // 2))::BIGINT AS actual_pairs,
                   max(c)::BIGINT AS top_key_size
            FROM grp GROUP BY blocking_key
        )
        SELECT blocking_key, n_rows, ndv, actual_pairs,
               ((n_rows * n_rows) // (2 * ndv)) AS est_uniform_pairs,
               CASE WHEN actual_pairs > 0 THEN
                   ((actual_pairs * 1000000)
                    // ((n_rows * n_rows) // (2 * ndv)))
               END AS skew_ratio_micros,
               top_key_size,
               ((top_key_size * (top_key_size - 1)) // 2) AS top_key_pairs
        FROM agg
        ORDER BY blocking_key
    """,
    doc="""Candidate-pair cost audit for two blocking-key choices
    (customer key vs order date): the ACTUAL pair count Σ c·(c−1)/2
    computed from group counts alone — no pair is ever materialized —
    against the uniform-key textbook estimate n²/(2·ndv), their ratio
    (the skew penalty an optimizer's uniformity assumption hides), and
    the hottest key's own pair load.  This is the number that predicts
    whether a dedup/entity-resolution blocking key explodes BEFORE the
    self-join runs — the planning complement to key_skew_audit's
    runtime view and fuzzy_match_blocked's SymSpell blocking.
    Determinism: pure integer arithmetic end-to-end (floor-micros
    ratio).  Scale shape: one grouped count per key choice (keyed
    shuffles with partial aggregation), then 1-row arithmetic —
    auditing another candidate key adds one UNION branch, not a join.
    (Pair counts exceed int64 past ~3e9 rows per key; the decimal(38)
    variant is the same plan.)""",
)
def blocking_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    keys = orders.select(
        F.lit("o_custkey").alias("blocking_key"),
        F.col("o_custkey").cast("string").alias("k"),
    ).unionAll(
        orders.select(
            F.lit("o_orderdate").alias("blocking_key"),
            F.col("o_orderdate").cast("string").alias("k"),
        )
    )
    grp = keys.groupBy("blocking_key", "k").agg(F.count("*").alias("c"))
    agg = grp.groupBy("blocking_key").agg(
        F.sum("c").alias("n_rows"),
        F.count("*").alias("ndv"),
        F.sum(idiv(F.col("c") * (F.col("c") - 1), F.lit(2))).alias(
            "actual_pairs"
        ),
        F.max("c").alias("top_key_size"),
    )
    est = idiv(F.col("n_rows") * F.col("n_rows"), 2 * F.col("ndv"))
    return agg.select(
        "blocking_key",
        "n_rows",
        "ndv",
        "actual_pairs",
        est.alias("est_uniform_pairs"),
        F.when(
            F.col("actual_pairs") > 0,
            idiv(F.col("actual_pairs") * 1_000_000, est),
        ).alias("skew_ratio_micros"),
        "top_key_size",
        idiv(F.col("top_key_size") * (F.col("top_key_size") - 1), F.lit(2)).alias(
            "top_key_pairs"
        ),
    ).orderBy("blocking_key")


# Recall-oriented banding: 8 bands x 4 sign bits over dims 1..32 — the
# same 32-dim prefix the 4x8 layout hashes, re-banded for recall.
R_BANDS = 8


R_BITS = 4


def _lsh_cand_ctes(bands: int, bits: int, prefix: str) -> str:
    """DuckDB CTE pair ``{prefix}buckets`` / ``{prefix}cand`` for a
    banded sign-LSH layout (mirrors _LSH_PAIRS_CTES above,
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
            F.col("n_candidates") > 0, idiv(micros, F.col("n_candidates"))
        ).alias("precision_micros"),
        F.when(
            F.col("n_union") > 0, idiv(micros, F.col("n_union"))
        ).alias("union_share_micros"),
    )


@register(
    "repeated_span_islands",
    oracle=f"""
        WITH {SPAN_FLAT_CTES}, occ AS (
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
    flat, rep = repeated_span_flat(docs)
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


# Oracle CTE for the distinct covered (doc_id, position) set — the
# repeated_span_coverage covered-position shape, shared by the cut pass
# and the savings report.
_COVERED_CTE = f"""cov AS (
            SELECT DISTINCT f.doc_id, cp.cp
            FROM flat f
            JOIN rep r ON f.g = r.g,
            LATERAL (SELECT unnest(generate_series(f.pos,
                                    f.pos + {SPAN_N - 1})) AS cp) cp
        )"""


def _covered_positions(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, cp) duplicated-token positions: every
    {SPAN_N}-token span occurring in >= 2 documents covers
    [pos, pos+{SPAN_N - 1}] (the repeated_span_coverage definition).

    The slim span frame is eagerly checkpointed because BOTH the
    repeated-span inventory and the occurrence semi-join consume it —
    without the pin Catalyst shingles the corpus twice (the banding
    audit persist lesson; measured 1.8 -> 1.0 s isolated at sf0.1)."""
    flat, _ = repeated_span_flat(docs)
    flat = flat.localCheckpoint(eager=True)
    # min != max over non-null doc_id ⟺ countDistinct >= 2, without the
    # two-phase distinct expansion (the repeated_span_flat rationale,
    # round-11) — here over the checkpointed flat.
    rep = (
        flat.groupBy("g")
        .agg(F.min("doc_id").alias("_d0"), F.max("doc_id").alias("_d1"))
        .where(F.col("_d0") != F.col("_d1"))
        .select("g")
    )
    return (
        flat.join(rep, "g", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SPAN_N - 1))
            ).alias("cp"),
        )
        .distinct()
    )


@register(
    "exact_substring_cut",
    oracle=f"""
        WITH {SPAN_FLAT_CTES}, {_COVERED_CTE}, tok AS (
            SELECT doc_id, n_toks, i, w[i] AS tok
            FROM t, LATERAL (SELECT unnest(generate_series(1, n_toks))
                             AS i) _
        ), kept AS (
            SELECT k.doc_id, k.i, k.tok
            FROM tok k LEFT JOIN cov c
              ON k.doc_id = c.doc_id AND k.i = c.cp
            WHERE c.cp IS NULL
        ), agg AS (
            SELECT doc_id, count(*)::BIGINT AS kept_tokens,
                   string_agg(tok, ' ' ORDER BY i) AS kept_text
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               t.n_toks::BIGINT AS n_toks,
               (t.n_toks - coalesce(a.kept_tokens, 0))::BIGINT
                   AS cut_tokens,
               coalesce(a.kept_tokens, 0)::BIGINT AS kept_tokens,
               coalesce(a.kept_text, '') AS kept_text
        FROM t LEFT JOIN agg a USING (doc_id)
    """,
    doc=f"""The exact-substring CUT pass (Lee et al. 2022's ExactSubstr
    deliverable; reference scope: the dedup north star, not the SCATS
    ETL): every token position covered by a {SPAN_N}-token span that
    occurs in >= 2 documents is removed, and each document emits its
    cleaned text — the kept tokens rejoined in position order — plus
    the per-doc token accounting (n_toks / cut_tokens / kept_tokens).
    Documents with no duplicated span pass through whole; a fully
    duplicated document emits an empty string.  kept_text is
    reconstructed identically on both engines (join of split tokens),
    so the compare is exact regardless of source whitespace.
    Determinism: integer positions; position-ordered string_agg vs
    array_sort on (pos, token) structs.  Scale shape: the span-keyed
    groupBy + semi-join of the coverage family, one posexplode of the
    corpus, a doc-keyed anti-join, and one grouped ordered
    reassembly — all doc- or span-partitioned, no all-pairs stage, no
    global window; the output is a full cleaned corpus, written back
    shard-parallel at 100 TB.""",
)
def exact_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    cov = _covered_positions(docs)
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("tpos"), "tok")
    kept = toks.join(
        cov.withColumnRenamed("cp", "tpos"), ["doc_id", "tpos"], "left_anti"
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("kept_text"),
    )
    base = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_toks")
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        (F.col("n_toks") - F.coalesce("kept_tokens", F.lit(0)))
        .cast("long")
        .alias("cut_tokens"),
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


@register(
    "exact_substring_cut_savings",
    oracle=f"""
        WITH {SPAN_FLAT_CTES}, {_COVERED_CTE}, covc AS (
            SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY doc_id
        ), d AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_toks
            FROM documents
        ), j AS (
            SELECT d.source, d.n_toks, coalesce(c.n_cov, 0) AS n_cov
            FROM d LEFT JOIN covc c USING (doc_id)
        )
        SELECT source,
               count(*)::BIGINT AS n_docs,
               sum(CASE WHEN n_cov > 0 THEN 1 ELSE 0 END)::BIGINT
                   AS docs_cut,
               sum(n_toks)::BIGINT AS total_tokens,
               sum(n_cov)::BIGINT AS cut_tokens,
               sum(n_toks - n_cov)::BIGINT AS kept_tokens,
               ((sum(n_cov)::BIGINT * 1000000)
                    // sum(n_toks)::BIGINT)::BIGINT AS savings_micros
        FROM j GROUP BY source
    """,
    doc=f"""Corpus-level token-savings report for the exact-substring
    cut, grouped by source: documents touched, total vs cut vs kept
    tokens, and the floor-micros savings share — the number a curation
    run reads to decide whether the {SPAN_N}-gram cut pays for itself
    per source.  The denominator sum(n_toks) is >= n_docs (a split
    always yields >= 1 token), so the ratio is total.  Overflow
    contract: the micros pre-multiply runs in int64 on both engines
    (oracle sums cast ::BIGINT pre-multiply), bounding a source at
    ~9.2e12 tokens symmetrically.  Scale shape: same covered-position
    plan as the cut pass, then one |sources|-row grouped rollup — the
    report is aggregate-only, no per-doc output.""",
)
def exact_substring_cut_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    covc = _covered_positions(docs).groupBy("doc_id").agg(
        F.count("*").alias("n_cov")
    )
    j = (
        docs.select(
            "doc_id", "source", F.size(tokens("text")).alias("n_toks")
        )
        .join(covc, "doc_id", "left")
        .select(
            "source",
            "n_toks",
            F.coalesce("n_cov", F.lit(0)).alias("n_cov"),
        )
    )
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_cov") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_cut"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_cov").cast("long").alias("cut_tokens"),
        F.sum(F.col("n_toks") - F.col("n_cov"))
        .cast("long")
        .alias("kept_tokens"),
        idiv(
            F.sum("n_cov").cast("long") * MICROS, F.sum("n_toks").cast("long")
        ).alias("savings_micros"),
    )
