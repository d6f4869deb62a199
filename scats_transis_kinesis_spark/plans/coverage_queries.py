"""Coverage queries: K4 positional join as a driver-facing query, the
multimodal mapInPandas plumbing (feature extraction + frame sampling)
oracle-checked end-to-end, and the banded sign-LSH scale path for
embedding near-dup (the O(n·bucket) alternative to the all-pairs
baseline in extension_queries2.dedup_embedding_cosine)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.envelope import THROTTLE_ERROR, failed_subset
from ..operators.multimodal import extract_features, sample_frames

from ..sources.loaders import load_table
from .registry import register


@register(
    "k4_failed_subset",
    oracle=f"""
        WITH req AS (
            SELECT o_orderkey, o_totalprice,
                   o_orderkey // 500 AS batch_id,
                   row_number() OVER (PARTITION BY o_orderkey // 500
                                      ORDER BY o_orderkey) AS pos
            FROM orders
        ),
        resp AS (
            SELECT batch_id, pos,
                   CASE WHEN pos % 3 = 0
                        THEN '{THROTTLE_ERROR}' END AS error_code
            FROM req
        )
        SELECT req.o_orderkey, req.o_totalprice
        FROM req JOIN resp USING (batch_id, pos)
        WHERE resp.error_code = '{THROTTLE_ERROR}'
    """,
    doc="""K4 — positional join of put-request records with per-record
    response entries, keeping only the throttled subset (reference:
    kinesis_producer.py:87-98, zip at :92).  Position is stamped PER
    PUT-REQUEST BATCH (id-range batches of ≤500 keys, matching the
    Kinesis PutRecords limit), so the row_number window partitions on
    batch_id — structurally bounded at any table size, never a global
    sort.  The throttle pattern is a deterministic pos%3 stand-in for
    the mocked Kinesis response in reference tests.py:156-169.""",
)
def k4_failed_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    batch = F.floor(F.col("o_orderkey") / 500)
    w = Window.partitionBy("batch_id").orderBy("o_orderkey")
    req = orders.select(
        "o_orderkey", "o_totalprice", batch.alias("batch_id")
    ).withColumn("pos", F.row_number().over(w))
    resp = req.select(
        "batch_id",
        "pos",
        F.when(F.col("pos") % 3 == 0, F.lit(THROTTLE_ERROR)).alias("error_code"),
    )
    return failed_subset(req, resp, on=("batch_id", "pos"))


@register(
    "multimodal_features",
    oracle="""
        SELECT doc_id AS media_id,
               octet_length(text::BLOB) AS n_bytes,
               md5(text) AS payload_hash,
               dims.i AS dim_idx,
               ('0x' || substr(md5(text), dims.i * 2 + 1, 2))::INT / 255.0
                   AS feature_value
        FROM documents
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) dims
    """,
    doc="""Multimodal feature extraction (north star): Arrow-batched
    ``mapInPandas`` over opaque binary payloads.  The decode step is the
    documented deterministic stub (md5-derived feature vector — codec
    libraries aren't in this container); the Spark plumbing (binary
    column, metadata struct, batch iterator, explicit output schema) is
    the real production shape a PIL/ffmpeg decoder plugs into.  The
    operator API (:func:`extract_features`) keeps the ``array<double>``
    feature column; this driver-facing query explodes it to one
    (media_id, dim_idx, feature_value) row per dimension so the result is
    scalar-only — canonicalizers that sort raw columns (pandas
    ``sort_values``) can't hash list cells.""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import documents_as_media

    media = documents_as_media(load_table(spark, "documents", sf_dir))
    feats = extract_features(media, strict=False, dim=8)
    return feats.select(
        "media_id",
        "n_bytes",
        "payload_hash",
        F.posexplode("feature").alias("dim_idx", "feature_value"),
    ).withColumn("dim_idx", F.col("dim_idx").cast("long"))


@register(
    "multimodal_frame_sample",
    oracle="""
        SELECT media_id, frame_idx, frame_idx * 1000 AS offset_ms
        FROM (
            SELECT doc_id AS media_id,
                   unnest(generate_series(
                       0, greatest(1, (n_chars * 10) // 1000) - 1)) AS frame_idx
            FROM documents
        )
    """,
    doc="""Multimodal frame-sampling plumbing (north star): one row per
    sampled frame offset from the metadata duration — pure relational
    explode(sequence), no decode needed to *plan* the sampling.  The
    synthetic duration is 10 ms per source char (the documents table has
    no real media); each sampled (media_id, offset) row is what a frame
    decoder (extract_features) would consume.""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit("video/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return sample_frames(media, every_ms=1000)


LSH_BANDS = 4
LSH_BITS = 8  # sign bits per band → 4×8 = first 32 of 64 dims
LSH_DUP_THRESHOLD = 0.4  # same threshold as dedup_embedding_cosine


def _sign_bucket(vec, band: int, bits: int = LSH_BITS):
    """Pack the sign bits of dims [band*bits, (band+1)*bits) into one
    int — a sign-random-projection bucket with basis hyperplanes.
    ``bits`` defaults to the precision-oriented 4x8 banding; the round-8
    recall twin (pipeline_queries26) passes 4 for its 8x4 layout."""
    bucket = F.lit(0)
    for d in range(bits):
        bit = F.when(F.element_at(vec, band * bits + d + 1) > 0, F.lit(1 << d)).otherwise(0)
        bucket = bucket + bit
    return bucket


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
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _sign_bucket(F.col("v"), b).alias("bucket"))
            for b in range(LSH_BANDS)
        ]
    )
    buckets = e.select(
        "vec_id", "v", F.explode(bands).alias("bb")
    ).select("vec_id", "v", "bb.band", "bb.bucket")
    a = buckets.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    b = buckets.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    # candidates stay slim (two ids) through the distinct; vectors join
    # back by key afterwards — the arrays never ride a shuffle they
    # don't need (hash joins co-partitioned on vec_id at scale).
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Norms hoisted to per-row columns before the verify joins
    # (round-10, similarity.cosine_with_norms): the interpreted norm
    # fold runs once per ROW instead of once per candidate pair per
    # side; bit-identical.
    from ..operators.similarity import _norm, cosine_with_norms

    ea = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        _norm(F.col("v")).alias("_na"),
    )
    eb = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        _norm(F.col("v")).alias("_nb"),
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms(
                    F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= LSH_DUP_THRESHOLD)
    )


# The SQL front door: one ANSI-SQL text, executed verbatim by BOTH
# engines — spark.sql over registered temp views on the Spark side, the
# oracle on the DuckDB side.  Proves the engine's SQL interface without
# a separate translation layer.
_SQL_INTERFACE_TEXT = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_orderstatus <> 'F'
    GROUP BY o_orderpriority
"""


@register(
    "sql_interface_orders",
    oracle=_SQL_INTERFACE_TEXT,
    doc="""SQL-text interface parity: the exact same ANSI string runs
    through spark.sql (temp views over the parquet tables) and DuckDB.
    Catalyst plans it identically to the DataFrame form — pushdown,
    pruning, partial aggregation all apply.""",
)
def sql_interface_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(_SQL_INTERFACE_TEXT)


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
    "sample_hash_bucket",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 10
    """,
    doc="""Deterministic 10% sample via portable-hash bucketing — the
    reproducible-at-scale alternative to seeded random sampling (a
    row's membership depends only on its id, so the sample is stable
    across engines, runs, partitionings, and data layout changes).
    The predicate is a pure column expression evaluated in the scan
    stage; no shuffle, no state.""",
)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash32

    docs = load_table(spark, "documents", sf_dir)
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 100
    return docs.where(bucket < 10).select("doc_id", "lang", "n_chars")


@register(
    "dataset_split_train_test",
    oracle="""
        SELECT CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                         % 100 < 90
                    THEN 'train' ELSE 'test' END AS split,
               count(*) AS n_docs,
               sum(n_chars)::BIGINT AS total_chars
        FROM documents
        GROUP BY 1
    """,
    doc="""Deterministic 90/10 train/test split by hash bucket (north
    star: every training-data pipeline needs a leakage-proof,
    reproducible split).  Same portable-hash mechanism as
    sample_hash_bucket; membership is a property of the row id alone,
    so re-running over re-partitioned or incrementally-grown data never
    moves a document across the split boundary.""",
)
def dataset_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash32

    docs = load_table(spark, "documents", sf_dir)
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 100
    return (
        docs.withColumn(
            "split", F.when(bucket < 90, F.lit("train")).otherwise(F.lit("test"))
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


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
