"""Incremental and streaming state-table twins.

Each query maintains a merge-able state (an aggregate, a span
inventory, a seen-hash table) across a base/delta split and answers
to the same oracle as the full recompute.  The ``*_stream`` twins
replay the delta as micro-batches through ``foreachBatch`` with an
``availableNow`` trigger.

- ``incremental_span_coverage`` — pairs
  ``incremental_agg_maintenance``'s merge contract with the span
  family: the base corpus contributes only its MATERIALIZED span
  inventory (span -> distinct-doc count); the delta's partial
  inventory merges by sum (doc partitions are disjoint, so distinct
  counts are algebraic across the split), and delta-doc coverage is
  computed against the merged repeated-span set WITHOUT rescanning
  base positions.  The oracle is the full recompute restricted to
  delta docs — the merge path must agree bit-for-bit.
- ``incremental_span_coverage_stream`` — the foreachBatch twin of
  ``incremental_span_coverage``: the span inventory is maintained as a
  STATE TABLE across micro-batches (sum-merge per batch, same
  algebraic-merge identity), and the final coverage answers to the
  SAME full-recompute oracle — completing the incremental arc the way
  the windowed-traffic streaming parity test did for A3.
- ``incremental_exact_dedup_stream`` — the foreachBatch twin of the
  exact-dedup state table (operators/dedup.py:incremental_exact_dedup's
  seen-hash store, generalized to ``(content_hash -> min keep_id,
  n_copies)`` so the merge is ALGEBRAIC): each micro-batch hashes only
  its own documents and (min, sum)-merges its partial into the state;
  the final report joins the base corpus's seen-hash set.  Because min
  and sum are associative-commutative over disjoint doc sets, the state
  — and therefore the report — cannot depend on how the delta was split
  into batches, which is exactly what makes the continuous form safe.
  This completes the incremental arc for the dedup family the way
  ``incremental_span_coverage_stream`` did for spans.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import duckdb_hash64_sql, portable_hash64
from ..operators.text import tokens
from ..sources.loaders import load_table
from .dedup import SPAN_FLAT_CTES, SPAN_N, repeated_span_flat
from .registry import register


# Incremental-maintenance split point: rows before this date play the
# "yesterday's materialized state" role; rows on/after it are the delta.
INCR_SPLIT = "1999-01-01"


@register(
    "incremental_agg_maintenance",
    oracle="""
        SELECT o_orderstatus,
               count(*)::BIGINT AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE, 2)
                   AS total_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="""Incremental aggregate maintenance (materialized-view refresh
    shape): yesterday's aggregate state (orders before the split date,
    pre-aggregated) merges with today's delta's partial aggregate by
    UNION + re-reduce — counts and sums are algebraic, so the merge
    touches |groups| + |delta| rows and never rescans the base data.
    At 100 TB this is the difference between a daily full recompute
    and a delta-sized refresh.  Sums go through DECIMAL(18,2) so the
    two-level aggregation tree is bit-exact against the oracle's
    single-level full recompute (FP addition order would differ).""",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    price = F.col("o_totalprice").cast("decimal(18,2)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum(price).alias("total_price"),
        )

    base_state = partial(orders.where(F.col("o_orderdate") < INCR_SPLIT))
    delta = partial(orders.where(F.col("o_orderdate") >= INCR_SPLIT))
    return (
        base_state.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_price").alias("total_price"),
        )
        .select(
            "o_orderstatus",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(F.col("total_price").cast("double"), 2).alias(
                "total_price"
            ),
        )
    )


# --- incremental span coverage --------------------------------------------

# Delta split: every 5th doc_id plays "today's arrivals"; the rest are
# the already-ingested base whose span inventory is materialized state.
SPAN_DELTA_MOD = 5


# The full-recompute-restricted-to-delta oracle, shared with the
# streaming twin (incremental_span_coverage_stream): the batch merge and the
# foreachBatch-maintained state table answer to the SAME contract.
SPAN_INCR_ORACLE = f"""
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
        WHERE t.doc_id % {SPAN_DELTA_MOD} = 0
    """


def _span_inventory(flat: DataFrame) -> DataFrame:
    """The state-table unit both incremental twins maintain: per-span
    distinct-doc counts.  ONE definition shared by the batch merge
    below and the streaming twin (_span_coverage_stream) — the
    twins answer to the SAME oracle, so their inventory must be
    structurally identical by construction, not by convention."""
    return flat.groupBy("g").agg(
        F.countDistinct("doc_id").cast("long").alias("nd")
    )


@register(
    "incremental_span_coverage",
    oracle=SPAN_INCR_ORACLE,
    doc=f"""Incremental span-coverage maintenance (the
    incremental_agg_maintenance merge contract applied to the
    repeated-span family): docs with doc_id % {SPAN_DELTA_MOD} == 0
    are today's delta; the base corpus contributes ONLY its
    materialized span inventory (span -> distinct-doc count,
    checkpointed as the state table).  Because the base/delta doc sets
    are disjoint, per-span distinct-doc counts merge by SUM — so the
    merged inventory's >= 2 set equals the full recompute's repeated
    set, including spans unique WITHIN each side that become repeated
    only across the split.  Delta docs then report coverage against
    that merged set.  The oracle is the full recompute restricted to
    delta docs: the merge path must agree bit-for-bit.  Scale shape:
    the refresh touches |state| + |delta spans| rows and the delta's
    positions only — base POSITIONS are never rescanned, which at
    100 TB is the difference between a delta-sized refresh and a
    daily full shingle pass; the state table is a span-keyed store
    maintained by the same union + re-reduce.""",
)
def incremental_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    is_delta = F.col("doc_id") % SPAN_DELTA_MOD == 0
    base_flat, _ = repeated_span_flat(docs.where(~is_delta))
    delta_flat, _ = repeated_span_flat(docs.where(is_delta))
    # Yesterday's materialized state: built once from base positions
    # and pinned — the refresh below never re-reads base_flat.
    base_inv = _span_inventory(base_flat).localCheckpoint(eager=True)
    # Delta positions feed BOTH the delta inventory and the coverage
    # join; pin the slim (doc_id, n_toks, pos, g) frame so the delta
    # shingling runs once.
    delta_flat = delta_flat.localCheckpoint(eager=True)
    rep = (
        base_inv.unionByName(_span_inventory(delta_flat))
        .groupBy("g")
        .agg(F.sum("nd").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    cov = (
        delta_flat.join(rep, "g", "left_semi")
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
        docs.where(is_delta)
        .select(
            "doc_id", F.size(tokens("text")).cast("long").alias("n_toks")
        )
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


# Micro-batches the streaming twin splits the delta into; the answer is
# split-invariant, so the count is a throughput knob, not semantics.
SPAN_STREAM_BATCHES = 3


def _replay_available_now(
    delta: DataFrame,
    n_batches: int,
    absorb: Callable[[DataFrame, int], None],
) -> None:
    """Replay the ``(doc_id, text)`` delta as ``n_batches`` file-source
    micro-batches: stage it to parquet in ``n_batches`` files, read it
    back one file per trigger, run ``foreachBatch(absorb)`` under an
    ``availableNow`` trigger until the files are drained, then drop the
    staging directory.  ``absorb`` must checkpoint whatever state it
    keeps (lineage cut): the staged files are gone once this returns."""
    spark = delta.sparkSession
    tmp = tempfile.mkdtemp(prefix="replay_")
    try:
        data_dir = f"{tmp}/delta"
        delta.repartition(n_batches, "doc_id").write.parquet(data_dir)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(data_dir)
        )
        query = (
            stream.writeStream.foreachBatch(absorb)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- streaming twin of incremental span coverage ----------------------------
def _span_coverage_stream(
    spark: SparkSession, sf_dir: str, n_batches: int
) -> DataFrame:
    """The foreachBatch state-table maintenance behind
    incremental_span_coverage_stream, with the micro-batch count
    exposed so the split-invariance test can sweep it."""
    docs = load_table(spark, "documents", sf_dir)
    is_delta = F.col("doc_id") % SPAN_DELTA_MOD == 0

    # Yesterday's materialized state: the base corpus's span inventory,
    # built once and pinned — base POSITIONS are never read again.
    base_flat, _ = repeated_span_flat(docs.where(~is_delta))
    state = {
        "inv": _span_inventory(base_flat).localCheckpoint(eager=True),
        "flat": None,
    }

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        # Per batch: shingle ONLY the batch, pin its slim span frame
        # (the coverage step re-reads it after the stream ends), and
        # sum-merge its partial inventory into the state table.  The
        # localCheckpoint (not persist) matters: the state's lineage
        # must be CUT each batch or batch N replays batches 1..N-1's
        # shingling (and the cut also sidesteps the recacheByPath trap
        # of caches whose lineage reads a path being appended to).
        # The flat pin is LAZY (round-11, the k-center lazy-persist
        # pattern): the state-merge job below reads flat through
        # _span_inventory and materializes the checkpoint on the way —
        # one job per batch instead of two, same cut.
        flat, _ = repeated_span_flat(batch_df)
        flat = flat.localCheckpoint(eager=False)
        state["flat"] = (
            flat
            if state["flat"] is None
            else state["flat"].unionByName(flat)
        )
        state["inv"] = (
            state["inv"]
            .unionByName(_span_inventory(flat))
            .groupBy("g")
            .agg(F.sum("nd").cast("long").alias("nd"))
            .localCheckpoint(eager=True)
        )

    _replay_available_now(
        docs.where(is_delta).select("doc_id", "text"), n_batches, absorb
    )

    rep = state["inv"].where(F.col("nd") >= 2).select("g")
    delta_flat = state["flat"]
    if delta_flat is None:  # no delta docs at all: all-zero coverage
        cov = spark.createDataFrame(
            [], "doc_id long, n_covered long"
        )
    else:
        cov = (
            delta_flat.join(rep, "g", "left_semi")
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("pos"), F.col("pos") + (SPAN_N - 1))
                ).alias("cp"),
            )
            .distinct()
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_covered"))
        )
    return (
        docs.where(is_delta)
        .select(
            "doc_id", F.size(tokens("text")).cast("long").alias("n_toks")
        )
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0)) / F.col("n_toks"), 6
            ).alias("coverage"),
        )
    )


@register(
    "incremental_span_coverage_stream",
    oracle=SPAN_INCR_ORACLE,
    doc=f"""Structured-Streaming twin of incremental_span_coverage: the
    delta corpus arrives as {SPAN_STREAM_BATCHES} file-source
    micro-batches (availableNow) and foreachBatch maintains the span
    inventory as a STATE TABLE — each batch shingles ONLY its own
    documents, sum-merges its partial (span -> distinct-doc count)
    inventory into the checkpointed state, and base positions are
    never rescanned.  After the stream drains, delta coverage is
    computed against the final merged >= 2 set.  The oracle is the
    SAME full-recompute-restricted-to-delta SQL as the batch twin:
    because per-span distinct-doc counts over disjoint doc sets merge
    by sum, the final state is independent of how the delta was split
    into batches (micro-batch counts 1/2/4 swept in
    tests/test_round10_anchors.py; the m-way merge identity itself is
    a hypothesis property in tests/test_round10_properties.py) —
    which is exactly why the continuous form is safe to deploy.  Scale
    shape per batch: |batch spans| shingle rows + one |state|-sized
    sum-merge; the state table is span-keyed (at 100 TB: a keyed store
    compacted on write), and the one-time final coverage join touches
    delta positions only.""",
)
def incremental_span_coverage_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _span_coverage_stream(spark, sf_dir, SPAN_STREAM_BATCHES)


# Micro-batches the dedup stream splits the delta into — a throughput
# knob, not semantics: the (min, sum) state merge is split-invariant.
DEDUP_STREAM_BATCHES = 3


# --- streaming twin of the incremental exact-dedup state --------------------
def _dedup_state_stream(
    spark: SparkSession, sf_dir: str, n_batches: int
) -> DataFrame:
    """The foreachBatch state-table maintenance behind
    incremental_exact_dedup_stream, with the micro-batch count exposed
    so the split-invariance test can sweep it."""
    docs = load_table(spark, "documents", sf_dir)
    is_delta = F.col("doc_id") % SPAN_DELTA_MOD == 0

    # Yesterday's materialized state: the base corpus's seen-hash set
    # (incremental_exact_dedup's state-table column), built once and
    # pinned — base payloads are never rehashed per batch.
    base = (
        docs.where(~is_delta)
        .select(portable_hash64("text").alias("content_hash"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    state: dict[str, DataFrame | None] = {"agg": None}

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        # Per batch: hash ONLY the batch, reduce it to its partial
        # (hash -> min id, count) frame, and (min, sum)-merge into the
        # state.  localCheckpoint (not persist) cuts the lineage each
        # batch — otherwise batch N replays batches 1..N-1's hashing —
        # and sidesteps recacheByPath (the incremental_exact_dedup
        # lesson: a cached plan whose lineage reads a path being
        # appended to is silently re-evaluated).
        part = (
            batch_df.select(
                "doc_id", portable_hash64("text").alias("content_hash")
            )
            .groupBy("content_hash")
            .agg(
                F.min("doc_id").alias("keep_id"),
                F.count("*").cast("long").alias("n_copies"),
            )
        )
        merged = (
            part
            if state["agg"] is None
            else state["agg"]
            .unionByName(part)
            .groupBy("content_hash")
            .agg(
                F.min("keep_id").alias("keep_id"),
                F.sum("n_copies").cast("long").alias("n_copies"),
            )
        )
        state["agg"] = merged.localCheckpoint(eager=True)

    _replay_available_now(
        docs.where(is_delta).select("doc_id", "text"), n_batches, absorb
    )

    agg = state["agg"]
    if agg is None:  # no delta docs at all
        agg = spark.createDataFrame(
            [], "content_hash long, keep_id long, n_copies long"
        )
    return agg.join(
        base.withColumn("_b", F.lit(1)), "content_hash", "left"
    ).select(
        "content_hash",
        "keep_id",
        "n_copies",
        F.col("_b").isNotNull().alias("in_base"),
    )


@register(
    "incremental_exact_dedup_stream",
    oracle=f"""
        WITH delta AS (
            SELECT doc_id, {duckdb_hash64_sql("text")} AS content_hash
            FROM documents WHERE doc_id % {SPAN_DELTA_MOD} = 0
        ), base AS (
            SELECT DISTINCT {duckdb_hash64_sql("text")} AS content_hash
            FROM documents WHERE doc_id % {SPAN_DELTA_MOD} <> 0
        ), g AS (
            SELECT content_hash, min(doc_id) AS keep_id,
                   count(*)::BIGINT AS n_copies
            FROM delta GROUP BY 1
        )
        SELECT g.content_hash, g.keep_id, g.n_copies,
               (b.content_hash IS NOT NULL) AS in_base
        FROM g LEFT JOIN base b ON g.content_hash = b.content_hash
    """,
    doc=f"""Structured-Streaming twin of the exact-dedup state table
    (operators/dedup.py:incremental_exact_dedup): the delta corpus
    (doc_id % {SPAN_DELTA_MOD} = 0) arrives as {DEDUP_STREAM_BATCHES}
    file-source micro-batches (availableNow) and foreachBatch maintains
    ``content_hash -> (min keep_id, n_copies)`` as a checkpointed state
    table — each batch hashes only its own documents and (min, sum)-
    merges its partial in.  The final report flags each delta hash
    against the base corpus's seen-hash set (``in_base``): a surviving
    delta document is ``keep_id`` where ``in_base`` is false.  The
    batch operator's first-seen-wins survivorship is ORDER-dependent
    across micro-batches; carrying (min id, count) instead makes the
    merge algebraic, so the state is independent of how the delta was
    split (batch counts 1/2/4 swept in tests/test_round10b_anchors.py;
    the m-way (min, sum) merge identity is a hypothesis property in
    tests/test_round10b_properties.py) — which is why the continuous
    form is safe to deploy.  Scale shape per batch: one narrow
    hash+groupBy over the batch plus one |state|-sized merge; the
    state is hash-keyed (at 100 TB: a keyed store bucketed by hash so
    the merge co-locates, exactly incremental_exact_dedup's posture),
    and payloads never enter the state.""",
)
def incremental_exact_dedup_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _dedup_state_stream(spark, sf_dir, DEDUP_STREAM_BATCHES)
