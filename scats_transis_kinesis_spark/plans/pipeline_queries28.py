"""Round-9 additions: the exact-substring CUT pass, the IVF probe
recall/cost audit, and incremental span-coverage maintenance.

Each completes an arc an earlier round started:

- ``exact_substring_cut`` / ``exact_substring_cut_savings`` — the Lee
  et al. 2022 ("Deduplicating Training Data Makes Language Models
  Better") deliverable the repeated-span family has been building
  toward: ``repeated_span_islands`` computes the maximal duplicated
  runs; the cut pass EMITS the cleaned corpus those islands imply
  (per-doc kept tokens + reconstructed kept text) and the savings
  report aggregates the corpus-level token savings per source.
- ``ivf_probe_recall_audit`` — the empirical design table for the IVF
  similarity path (operators/similarity.py:cosine_topk_bucketed): for
  each probe count, measured recall@k against the exact top-k and the
  scored-candidate share of the corpus — the recall/cost S-curve twin
  of ``lsh_banding_tradeoff_audit``.
- ``incremental_span_coverage`` — pairs
  ``incremental_agg_maintenance``'s merge contract with the span
  family: the base corpus contributes only its MATERIALIZED span
  inventory (span -> distinct-doc count); the delta's partial
  inventory merges by sum (doc partitions are disjoint, so distinct
  counts are algebraic across the split), and delta-doc coverage is
  computed against the merged repeated-span set WITHOUT rescanning
  base positions.  The oracle is the full recompute restricted to
  delta docs — the merge path must agree bit-for-bit.

Determinism: integer token positions and counts end to end;
floor-micros ratios via the ``_idiv`` exact-long contract; cosines
round to 6 on both engines with identical tiebreaks (the sim_topk_ivf
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.text import tokens
from ..sources.loaders import load_table
from .extension_queries import _COS, _SIM_QUERY_IDS
from .pipeline_queries3 import _SPAN_FLAT_CTES, SPAN_N, _repeated_span_flat
from .pipeline_queries13 import _idiv
from .registry import register

_M = 1_000_000

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
    flat, _ = _repeated_span_flat(docs)
    flat = flat.localCheckpoint(eager=True)
    # min != max over non-null doc_id ⟺ countDistinct >= 2, without the
    # two-phase distinct expansion (the _repeated_span_flat rationale,
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
        WITH {_SPAN_FLAT_CTES}, {_COVERED_CTE}, tok AS (
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
        WITH {_SPAN_FLAT_CTES}, {_COVERED_CTE}, covc AS (
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
        _idiv(
            F.sum("n_cov").cast("long") * _M, F.sum("n_toks").cast("long")
        ).alias("savings_micros"),
    )


# --- IVF probe recall/cost audit ------------------------------------------

# Probe counts swept by the design table; the candidate frame is built
# once at max(IVF_PROBES) with each candidate's centroid rank attached,
# so a probe row is a FILTER, not a recompute.
IVF_PROBES = (1, 2, 4, 8)
IVF_K = 5
IVF_CENTROIDS = 16


def _ivf_audit_oracle() -> str:
    qids = ", ".join(map(str, _SIM_QUERY_IDS))
    nq = len(_SIM_QUERY_IDS)
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        cents AS (
            SELECT vec_id AS centroid_id, v AS cvec FROM e
            ORDER BY vec_id LIMIT {IVF_CENTROIDS}
        ),
        assigned AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_COS.format(a="e.v", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS query_id, v AS qvec FROM e
            WHERE vec_id IN ({qids})
        ),
        cranks AS (
            SELECT query_id, qvec, centroid_id, rn AS crank FROM (
                SELECT q.query_id, q.qvec, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.cvec")} DESC,
                                    c.centroid_id ASC) AS rn
                FROM q CROSS JOIN cents c
            ) WHERE rn <= {max(IVF_PROBES)}
        ),
        cand AS (
            SELECT cr.query_id, cr.crank, a.vec_id AS neighbor_id,
                   {_COS.format(a="cr.qvec", b="a.v")} AS cosine_sim
            FROM cranks cr JOIN assigned a USING (centroid_id)
            WHERE a.vec_id <> cr.query_id
        ),
        probes(nprobe) AS (
            VALUES {", ".join(f"({p})" for p in IVF_PROBES)}
        ),
        expanded AS (
            SELECT p.nprobe, c.query_id, c.neighbor_id, c.cosine_sim
            FROM probes p JOIN cand c ON c.crank <= p.nprobe
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS.format(a="q.qvec", b="c.v")} DESC,
                                    c.vec_id ASC) AS rn
                FROM q JOIN e c ON c.vec_id <> q.query_id
            ) WHERE rn <= {IVF_K}
        ),
        topk AS (
            SELECT nprobe, query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY nprobe, query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rn
                FROM expanded
            ) WHERE rn <= {IVF_K}
        ),
        hits AS (
            SELECT nprobe, count(*)::BIGINT AS n_hits
            FROM topk t
            WHERE EXISTS (SELECT 1 FROM exact x
                          WHERE x.query_id = t.query_id
                            AND x.neighbor_id = t.neighbor_id)
            GROUP BY nprobe
        ),
        nc AS (
            SELECT nprobe, count(*)::BIGINT AS n_candidates
            FROM expanded GROUP BY nprobe
        ),
        corp AS (SELECT count(*)::BIGINT AS n FROM e)
        SELECT nc.nprobe::BIGINT AS nprobe,
               nc.n_candidates,
               coalesce(h.n_hits, 0)::BIGINT AS n_hits,
               ((coalesce(h.n_hits, 0) * 1000000)
                    // {nq * IVF_K})::BIGINT AS recall_micros,
               ((nc.n_candidates * 1000000)
                    // ({nq} * (corp.n - 1)))::BIGINT AS cand_share_micros
        FROM nc LEFT JOIN hits h USING (nprobe), corp
    """


@register(
    "ivf_probe_recall_audit",
    oracle=_ivf_audit_oracle(),
    doc=f"""Measured recall/cost design table for the IVF similarity
    path (operators/similarity.py:cosine_topk_bucketed; the empirical
    twin of lsh_banding_tradeoff_audit for the other ANN family): for
    each probe count in {IVF_PROBES}, the top-{IVF_K} produced by
    scanning only the nprobe closest of {IVF_CENTROIDS} clusters is
    compared against the exact top-{IVF_K}, reporting hit count,
    floor-micros recall@{IVF_K}, scored-candidate volume, and the
    candidate share of the full brute-force pair space — the page a
    user reads to pick nprobe.  Semantics replicate sim_topk_ivf
    exactly (smallest-id centroid seeding, round-6 cosine, centroid-id
    and neighbor-id tiebreaks).  Determinism: exact counts and
    floor-micros; denominators are structural constants (|q| x k; the
    corpus must have > 1 vector).  Scale shape: ONE candidate frame is
    built at max-probe with the centroid rank attached and checkpointed
    (slim: 4 columns, <= |q| x corpus rows), so each probe row is a
    filter + window over it, not a recompute; the probe dimension is a
    declared-bounded {len(IVF_PROBES)}-row broadcast; the exact top-k
    baseline is the one brute-force pass the audit exists to
    amortize away.""",
)
def ivf_probe_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    cents, _ = S.assign_centroids(emb, IVF_CENTROIDS)
    exact = S.cosine_topk_bruteforce(
        emb, query_ids=list(_SIM_QUERY_IDS), k=IVF_K
    ).select("query_id", "neighbor_id")
    return _ivf_audit_frame(spark, emb, cents, exact)


def _ivf_audit_frame(
    spark: SparkSession,
    emb: DataFrame,
    cents: DataFrame,
    exact: DataFrame,
    quantizer: str | None = None,
    query_ids: tuple[int, ...] | list[int] = tuple(_SIM_QUERY_IDS),
) -> DataFrame:
    """The probe-sweep audit body shared by the seed-quantizer audit
    above and the round-10 trained-quantizer audit
    (pipeline_queries29.ivf_kmeans_recall_audit): one scored-candidate
    frame at max-probe with the centroid rank attached, each probe row
    a FILTER over it.  ``cents`` is any ``(centroid_id, cvec)`` coarse
    quantizer; ``quantizer`` (when set) prepends a literal tag column
    so two quantizers' reports can union into one design table;
    ``query_ids`` lets that comparison pick queries DISJOINT from the
    seed sample (a query that IS a centroid gets its own
    perfectly-centered cluster — a structural recall bias)."""
    nq = len(query_ids)
    # One scored-candidate frame at max-probe, centroid rank attached;
    # checkpointed because BOTH the per-probe top-k and the per-probe
    # candidate count consume it (the banding-audit persist lesson —
    # without the pin the cosine join recomputes per aggregate).
    cand = S.ivf_candidates(
        emb,
        S.assign_to_centroids(emb, cents),
        cents,
        query_ids,
        max(IVF_PROBES),
    ).localCheckpoint(eager=True)
    # Declared-bounded crossJoin: the probe dimension is exactly
    # len(IVF_PROBES) literal rows.
    probes = spark.createDataFrame(
        [(p,) for p in IVF_PROBES], "nprobe long"
    )
    expanded = cand.crossJoin(F.broadcast(probes)).where(
        F.col("crank") <= F.col("nprobe")
    )
    topk = (
        expanded.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("nprobe", "query_id").orderBy(
                    F.desc("cosine_sim"), F.asc("neighbor_id")
                )
            ),
        )
        .where(F.col("rn") <= IVF_K)
        .select("nprobe", "query_id", "neighbor_id")
    )
    hits = (
        topk.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    nc = expanded.groupBy("nprobe").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    corp = emb.agg(F.count("*").cast("long").alias("n"))
    report = (
        nc.join(hits, "nprobe", "left")
        .na.fill(0, ["n_hits"])
        .crossJoin(F.broadcast(corp))
        .select(
            F.col("nprobe").cast("long").alias("nprobe"),
            "n_candidates",
            F.col("n_hits").cast("long").alias("n_hits"),
            _idiv(F.col("n_hits") * _M, F.lit(nq * IVF_K)).alias(
                "recall_micros"
            ),
            _idiv(
                F.col("n_candidates") * _M, F.lit(nq) * (F.col("n") - 1)
            ).alias("cand_share_micros"),
        )
    )
    if quantizer is not None:
        report = report.select(
            F.lit(quantizer).alias("quantizer"), "*"
        )
    return report


# --- incremental span coverage --------------------------------------------

# Delta split: every 5th doc_id plays "today's arrivals"; the rest are
# the already-ingested base whose span inventory is materialized state.
SPAN_DELTA_MOD = 5


# The full-recompute-restricted-to-delta oracle, shared with the
# round-10 streaming twin (pipeline_queries29): the batch merge and the
# foreachBatch-maintained state table answer to the SAME contract.
SPAN_INCR_ORACLE = f"""
        WITH {_SPAN_FLAT_CTES}, covered AS (
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
    below and the round-10 streaming twin (pipeline_queries29) — the
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
    base_flat, _ = _repeated_span_flat(docs.where(~is_delta))
    delta_flat, _ = _repeated_span_flat(docs.where(is_delta))
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
