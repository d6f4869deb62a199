"""Sampling, mixture and curation audits.

Stratified, weighted and capped samples, dataset splits and shards,
mixture and curriculum plans, packing, contamination checks, privacy
audits, quality-classifier evaluation, and the source-coverage
selection queries that decide what goes into a training mixture.

- ``dsir_importance_weights`` is the selection step itself (score every
  raw document against a target distribution, keep the top);
- ``packing_efficiency_audit`` prices the context-length choice before
  anyone packs a single batch;
- ``quality_gains_by_band`` — the cumulative gains/lift curve of the
  quality ranking: what share of 'en' documents each score cutoff
  captures, and at what selectivity.  Completes the ranking-evaluation
  family (confusion cells → one cutoff → AUC → every banded cutoff
  with volumes attached — the curve a selection budget is actually
  read off of).
- ``k_anonymity_audit`` — k-anonymity of the customer table under the
  quasi-identifier (nation, market segment): equivalence-class sizes,
  classes below k, rows at re-identification risk, l-diversity of the
  account-balance band, and the same screen after ONE generalization
  step (drop the segment) showing how coarsening restores k.  The
  standard privacy screen run before a demographic column ships into a
  training corpus (Sweeney '02; Machanavajjhala '07 for l-diversity).
- ``erasure_cascade_audit`` — right-to-be-forgotten propagation: a
  deletion request set (customers flagged by predicate) cascades
  through orders to line items; the audit reports, per table, total
  rows, rows to erase, and an identity checksum over the erased keys —
  the verification artifact an erasure job must reproduce.
- ``ndcg_quality_ranking`` — nDCG@k of the heuristic quality ranking
  against graded language relevance (en=3, de=1 gain tiers), completing
  the ranking-evaluation family (precision@k = one cutoff, AUC = every
  cutoff unweighted, nDCG = position-discounted graded).
- ``shard_shuffle_quality`` — training-shard shuffle audit: after
  hash-assigning documents to shards and hash-ordering within each
  shard, the rate of adjacent same-source pairs vs the expected rate
  under a uniform random order.  Poorly shuffled shards feed a trainer
  correlated batches; this is the audit that catches it BEFORE a run.
- ``curation_decision_log`` — the per-document EXPLAIN of
  ``corpus_clean_pipeline``: every document gets its fate and the
  first rule that sealed it (non_english → low_quality → exact_dup →
  kept), under exactly the pipeline's formulas and precedence, so
  "why was my document dropped?" is one lookup instead of a rerun.
  The kept rows of this log ARE the pipeline's output (pinned by
  test).
- ``temperature_sampling_plan`` — alpha-smoothed multilingual sampling
  (the mT5/XLM-R recipe, Xue et al. 2021 §3.2, alpha = 0.5): language
  sampling rates proportional to ``p_lang^alpha`` flatten the natural
  token distribution so low-resource languages are up-sampled without
  drowning the head.  alpha = 0.5 is sqrt — chosen deliberately because
  IEEE-754 requires sqrt to be correctly rounded, so Spark's JVM and
  DuckDB's C++ produce the SAME double bit-for-bit (a libm ``pow(x,
  0.7)`` carries no such guarantee), and the plan's micros columns stay
  hash-comparable across engines.
- ``greedy_source_coverage`` — greedy weighted max-coverage source
  selection (Nemhauser/Wolsey/Fisher '78 (1-1/e)-approximation; the
  facility-location shape of diversity-driven data selection): sources
  are picked one at a time to maximize NEW hashed-3-gram buckets, so a
  source whose n-grams a prior pick already covers is skipped in favor
  of a smaller-but-novel one — the overlap-aware behavior a raw
  per-source distinct-count ranking cannot express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import (
    duckdb_hash32_sql,
    duckdb_hash64_sql,
    portable_hash32,
    portable_hash64,
)
from ..operators.dedup import shingle_sets
from ..operators.relational import MICROS, idiv
from ..operators.text import quality_expr, stopword_ratio, tokens
from ..sources.loaders import load_table
from .dedup import EMBED_DUP_THRESHOLD
from .registry import register
from .storage import HH_THRESHOLD
from .text import QUALITY_MIN, STOPLIST_SQL


PACK_BUDGET = 1024


# Bucket count for the hierarchical prefix sum in pack_context_windows.
# The driver collects exactly this many (bucket, total) scalars; at 1000
# executors raise it to ~4x the executor count so buckets stay small.
PACK_NUM_BUCKETS = 64


@register(
    "pack_context_windows",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n,
                   sum(len(string_split(text, ' '))) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM documents
        ),
        spans AS (
            SELECT doc_id, n, cum, cum - n AS start,
                   ((cum - n) // {PACK_BUDGET})::BIGINT AS first_w,
                   ((cum - 1) // {PACK_BUDGET})::BIGINT AS last_w
            FROM t
        )
        SELECT w AS window_id, doc_id,
               (least(cum, (w + 1) * {PACK_BUDGET})
                   - greatest(start, w * {PACK_BUDGET}))::BIGINT AS tokens_in_window
        FROM spans, LATERAL (
            SELECT unnest(generate_series(first_w, last_w)) AS w)
    """,
    doc="""Sequence packing (LLM pretraining staple): documents
    concatenated in id order and sliced into fixed {PACK_BUDGET}-token
    context windows; emits which windows each document spans and how
    many tokens it contributes to each.  The global cumsum is computed
    as an explicit HIERARCHICAL prefix sum (Spark single-partitions an
    ORDER-BY-only window, so we never use one): docs are bucketed into
    PACK_NUM_BUCKETS contiguous id ranges, the running sum is windowed
    PER BUCKET (bounded partitions), and only the per-bucket totals —
    exactly PACK_NUM_BUCKETS rows — are collected to the driver to
    compute cumulative offsets, which broadcast-join back.  Same
    summary-collect pattern as RDD.zipWithIndex; at 100 TB every stage
    stays partitioned and the driver sees O(buckets) scalars.  The
    bucket bounds come from parquet footer statistics (catalog stats at
    cluster scale), so exactly ONE Spark job runs before the main query
    — round 2 ran three (cache populate + min/max + totals) and paid
    ~11 s of orchestration overhead at sf0.1; round 4 measures 0.85 s.
    The remaining pre-job is irreducible without caching corpus-scale
    data: per-bucket TOKEN totals are computed from ``text`` (footer
    stats only cover stored columns), and materializing the tokenized
    frame to share it between the totals pass and the main pass is the
    cache-the-token-stream anti-pattern the engine deliberately avoids
    — two narrow scans beat a corpus-scale cache at 100 TB.""",
)
def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..sources.loaders import parquet_column_minmax

    docs = load_table(spark, "documents", sf_dir)
    n = F.size(F.split("text", " "))
    base = docs.select("doc_id", n.alias("n"))

    # Order-preserving deterministic bucketing by id range: bucket k holds
    # doc_ids in [lo + k*width, lo + (k+1)*width), so bucket order == id
    # order and the per-bucket cumsum + bucket offset is the global cumsum.
    # Key bounds from footer stats — no scan job; fall back to one agg.
    bounds = parquet_column_minmax(f"{sf_dir}/documents.parquet", "doc_id")
    if bounds is None:
        bounds = base.agg(F.min("doc_id"), F.max("doc_id")).first()
    lo, hi = bounds
    width = max(1, -(-(int(hi) - int(lo) + 1) // PACK_NUM_BUCKETS))
    t = base.withColumn("bucket", F.floor((F.col("doc_id") - int(lo)) / width))

    totals = [
        (int(r["bucket"]), int(r["total"]))
        for r in t.groupBy("bucket").agg(F.sum("n").alias("total")).collect()
    ]
    running, offsets = 0, []
    for b, tot in sorted(totals):
        offsets.append((b, running))
        running += tot
    off_df = spark.createDataFrame(offsets, "bucket long, offset long")

    local_cum = F.sum("n").over(
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    t = (
        t.withColumn("local_cum", local_cum)
        .join(F.broadcast(off_df), "bucket")
        .select("doc_id", "n", (F.col("local_cum") + F.col("offset")).alias("cum"))
    )
    spans = t.select(
        "doc_id", "n", "cum",
        (F.col("cum") - F.col("n")).alias("start"),
        F.floor((F.col("cum") - F.col("n")) / PACK_BUDGET).alias("first_w"),
        F.floor((F.col("cum") - 1) / PACK_BUDGET).alias("last_w"),
    )
    return spans.select(
        F.explode(F.sequence("first_w", "last_w")).alias("window_id"),
        "doc_id",
        "start",
        "cum",
    ).select(
        "window_id",
        "doc_id",
        (
            F.least(F.col("cum"), (F.col("window_id") + 1) * PACK_BUDGET)
            - F.greatest(F.col("start"), F.col("window_id") * PACK_BUDGET)
        ).alias("tokens_in_window"),
    )


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


# Per-language sampling fractions (percent): the high-resource language
# is downsampled, the rest kept at a higher rate — the standard
# rebalancing move.  Membership is the same portable md5 bucket as
# dataset_split_train_test: a pure function of doc_id, reproducible
# across engines, partition layouts, and incremental growth.
STRATA_PCT = {"en": 30, "de": 80, "fr": 80, "es": 80, "zh": 80}


@register(
    "stratified_sample_by_lang",
    oracle=f"""
        WITH flagged AS (
            SELECT lang,
                   CASE lang
                       {' '.join(f"WHEN '{k}' THEN {v}" for k, v in STRATA_PCT.items())}
                       ELSE 0 END
                       > (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100)
                       AS keep
            FROM documents
        )
        SELECT lang,
               count(*) AS n_total,
               sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_sampled
        FROM flagged GROUP BY lang
    """,
    doc="""Stratified (per-language) deterministic sampling: each
    language keeps its own fraction via the portable hash bucket, so
    the high-resource stratum is downsampled without a shuffle — the
    keep-predicate is evaluated at the scan and the only aggregation is
    the per-stratum audit count.  Unlike ``sampleBy``'s RNG, membership
    is stable across reruns and engines (seedless reproducibility).""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash32

    docs = load_table(spark, "documents", sf_dir)
    pct = F.lit(0)
    for k, v in STRATA_PCT.items():
        pct = F.when(F.col("lang") == k, F.lit(v)).otherwise(pct)
    keep = pct > portable_hash32(F.col("doc_id").cast("string")) % 100
    return (
        docs.withColumn("keep", keep)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_sampled"),
        )
    )


# Shingle width for the contamination check.  Real benchmark-decontam
# uses 8–13-gram overlap; the synthetic corpus draws from a ~40-word
# vocabulary, so 3-grams are used to make collisions (and therefore the
# join path) actually exercisable at test scale.
CONTAM_NGRAM = 3


CONTAM_BENCH_DOCS = 20


@register(
    "ngram_contamination_check",
    oracle=f"""
        WITH shingled AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - {CONTAM_NGRAM - 1}),
                       i -> array_to_string(
                           array_slice(string_split(text, ' '), i, i + {CONTAM_NGRAM - 1}),
                           ' ')))) AS shingle
            FROM documents
        ),
        bench AS (SELECT * FROM shingled WHERE doc_id < {CONTAM_BENCH_DOCS}),
        corpus AS (SELECT * FROM shingled WHERE doc_id >= {CONTAM_BENCH_DOCS})
        SELECT c.doc_id,
               count(DISTINCT c.shingle) AS n_shared_ngrams,
               count(DISTINCT b.doc_id) AS n_bench_docs
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id
    """,
    doc="""Benchmark-contamination check (decontamination stage): corpus
    documents sharing any {CONTAM_NGRAM}-gram with the benchmark set
    (stand-in: doc_id < {CONTAM_BENCH_DOCS}), with how many distinct
    shingles and benchmark docs each hits.  Shingling is an array
    expression; the only shuffle is the equi-join on the shingle key —
    the benchmark side is tiny and broadcasts, so at 100 TB this is a
    map-side probe of a broadcast hash set, the exact shape real
    decontam pipelines use (hash the shingles to fixed-width ints when
    the probe set outgrows broadcast).""",
)
def ngram_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    shingled = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size(split(text, ' ')) - {CONTAM_NGRAM - 1}, 0)),"
                    f" i -> array_join(slice(split(text, ' '), i, {CONTAM_NGRAM}), ' '))"
                )
            )
        ).alias("shingle"),
    )
    bench = shingled.where(F.col("doc_id") < CONTAM_BENCH_DOCS).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    corpus = shingled.where(F.col("doc_id") >= CONTAM_BENCH_DOCS)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("bench_doc_id").alias("n_bench_docs"),
        )
    )


@register(
    "corpus_shard_assignment",
    oracle=f"""
        SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 64
                   AS shard_id,
               count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS total_chars
        FROM documents
        GROUP BY 1
    """,
    doc="""Deterministic corpus sharding for training-data layout: each
    document maps to one of 64 shards by portable hash of its id, and
    the query reports per-shard document and byte totals — the balance
    check run before writing a sharded dataset.  Membership depends
    only on doc_id, so shards are stable across runs, engines, and
    repartitionings (unlike round-robin or random assignment).  The
    hash is a scan-stage column expression; the aggregate is 64 groups
    with full map-side combine — effectively shuffle-free at any
    scale.""",
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    shard = (portable_hash32(F.col("doc_id").cast("string")) % 64).alias(
        "shard_id"
    )
    return docs.groupBy(shard).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "domain_shift_kl",
    oracle=f"""
        WITH toks AS (
            SELECT lang, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        vocab AS (
            SELECT tok FROM toks GROUP BY tok
            HAVING count(*) >= {HH_THRESHOLD}
        ),
        vt AS (
            SELECT lang, toks.tok FROM toks
            JOIN vocab ON toks.tok = vocab.tok
        ),
        lang_tok AS (
            SELECT lang, tok, count(*)::DOUBLE AS c
            FROM vt GROUP BY lang, tok
        ),
        lang_tot AS (
            SELECT lang, sum(c) AS lt FROM lang_tok GROUP BY lang
        ),
        glob_tok AS (
            SELECT tok, sum(c) AS g FROM lang_tok GROUP BY tok
        ),
        glob_tot AS (SELECT sum(c) AS gt FROM lang_tok)
        SELECT l.lang,
               lang_tot.lt::BIGINT AS n_tokens,
               round(sum((l.c / lang_tot.lt)
                         * ln((l.c / lang_tot.lt)
                              / (glob_tok.g / glob_tot.gt))), 6) AS kl
        FROM lang_tok l
        JOIN lang_tot USING (lang)
        JOIN glob_tok USING (tok)
        CROSS JOIN glob_tot
        GROUP BY l.lang, lang_tot.lt
    """,
    doc="""Domain-shift detection (information-theoretic corpus stats):
    KL divergence of each language slice's unigram distribution from
    the corpus distribution, restricted to the heavy-hitter vocabulary
    so the distribution support is bounded and dense.  The vocabulary
    is a broadcast semi-join (same two-pass economics as
    heavy_hitters_twopass); the distributions are keyed aggregates on
    (lang, tok); the final KL is a per-lang sum of ~|vocab| terms.
    The standard screen for "does this source/shard look like the
    corpus" before mixing new data into a training run.""",
)
def domain_shift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok").count().where(F.col("count") >= HH_THRESHOLD)
    ).select("tok")
    vt = toks.join(F.broadcast(vocab), "tok", "left_semi")
    lang_tok = vt.groupBy("lang", "tok").agg(
        F.count("*").cast("double").alias("c")
    )
    lang_tot = lang_tok.groupBy("lang").agg(F.sum("c").alias("lt"))
    glob_tok = lang_tok.groupBy("tok").agg(F.sum("c").alias("g"))
    glob_tot = lang_tok.agg(F.sum("c").alias("gt"))
    p = F.col("c") / F.col("lt")
    q = F.col("g") / F.col("gt")
    return (
        lang_tok.join(F.broadcast(lang_tot), "lang")
        .join(F.broadcast(glob_tok), "tok")
        .crossJoin(F.broadcast(glob_tot))
        .groupBy("lang", "lt")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl"))
        .select(
            "lang", F.col("lt").cast("long").alias("n_tokens"), "kl"
        )
    )


# Target language mixture for curriculum sampling (weights sum to 1).
MIXTURE_WEIGHTS = {"en": 0.30, "zh": 0.20, "es": 0.20, "de": 0.15, "fr": 0.15}


@register(
    "curriculum_mixture_sample",
    oracle=f"""
        WITH counts AS (
            SELECT lang, count(*)::BIGINT AS total_docs
            FROM documents GROUP BY lang
        ),
        w(lang, wt) AS (
            VALUES {", ".join(f"('{k}', {v}::DOUBLE)" for k, v in MIXTURE_WEIGHTS.items())}
        ),
        j AS (
            SELECT counts.lang, total_docs, wt
            FROM counts JOIN w ON counts.lang = w.lang
        ),
        cap AS (SELECT min(total_docs / wt) AS n FROM j),
        rates AS (
            SELECT lang, total_docs, wt * n / total_docs AS rate
            FROM j CROSS JOIN cap
        ),
        kept AS (
            SELECT d.lang, count(*)::BIGINT AS kept_docs
            FROM documents d JOIN rates r ON d.lang = r.lang
            WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                      % 1000000 < r.rate * 1000000
            GROUP BY d.lang
        )
        SELECT r.lang,
               r.total_docs,
               coalesce(k.kept_docs, 0)::BIGINT AS kept_docs,
               round(r.rate, 6) AS keep_rate
        FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    """,
    doc="""Language-mixture (curriculum) sampling: given target corpus
    weights per language, compute the largest sample that achieves the
    mixture exactly (capped by the most-constrained language), derive a
    per-language keep rate, and select documents deterministically by
    portable hash — so the sampled corpus is reproducible across
    engines and layouts.  The per-language stats are a 5-row aggregate
    broadcast back onto the scan; document selection is a scan-stage
    predicate (hash-bucket < rate), no shuffle of document data at
    all.  The same shape handles source/domain mixing at 100 TB: the
    rate table stays tiny regardless of corpus size.""",
)
def curriculum_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    weights = spark.createDataFrame(
        list(MIXTURE_WEIGHTS.items()), "lang string, wt double"
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("total_docs"))
    # Pinned ≤|langs|-row stats frame (change-8 waist): the cap
    # aggregate and the rate table both read it, and the rate table is
    # itself read twice (keep-filter join + final report) — without the
    # cut each reference re-derived the per-language corpus count scan.
    j = counts.join(weights, "lang").localCheckpoint(eager=True)
    cap = j.agg(F.min(F.col("total_docs") / F.col("wt")).alias("n"))
    rates = j.crossJoin(F.broadcast(cap)).select(
        "lang",
        "total_docs",
        (F.col("wt") * F.col("n") / F.col("total_docs")).alias("rate"),
    )
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 1000000
    kept = (
        docs.join(F.broadcast(rates), "lang")
        .where(bucket < F.col("rate") * 1000000)
        .groupBy("lang")
        .agg(F.count("*").alias("kept_docs"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "total_docs",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.round("rate", 6).alias("keep_rate"),
        )
    )


# Per-language reservoir size for weighted sampling.
ARES_K = 20


@register(
    "weighted_sample_ares",
    oracle=f"""
        WITH k AS (
            SELECT lang, doc_id, n_chars,
                   round(pow(
                       ({duckdb_hash32_sql("doc_id::VARCHAR")} + 1)
                           / 4294967296.0,
                       1.0 / n_chars), 9) AS key
            FROM documents
        ), r AS (
            SELECT lang, doc_id, n_chars, key,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY key DESC, doc_id) AS rn
            FROM k
        )
        SELECT lang, doc_id, n_chars::BIGINT AS n_chars, key
        FROM r WHERE rn <= {ARES_K}
    """,
    doc=f"""Weighted reservoir sampling (Efraimidis–Spirakis A-Res) —
    the standard way to draw a fixed-size weighted sample in one
    distributed pass: each document gets key u^(1/w) with u a
    deterministic portable-hash uniform in (0,1] and w = n_chars, and
    the top-{ARES_K} keys per language ARE a proper weighted sample
    without replacement.  The rounded-key (round 9) + doc_id tiebreak
    make the draw reproducible cross-engine — the same contract trick
    as the kmeans distances.  Scale shape: key assignment is a pure
    projection; the top-k per language is a PARTITIONED window (per
    partial reservoir at 100 TB one would aggregate per-partition
    top-{ARES_K} first — Spark's rank + filter already does exactly
    that partial aggregation map-side via the window's rank limit
    pushdown).""",
)
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    u = (portable_hash32(F.col("doc_id").cast("string")) + 1) / F.lit(
        float(1 << 32)
    )
    keyed = docs.select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(F.pow(u, 1.0 / F.col("n_chars")), 9).alias("key"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("key").desc(), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= ARES_K)
        .drop("rn")
    )


# Per-source document cap (domain balancing: no single source may
# contribute more than this many documents; selection is a
# deterministic portable-hash order so the "random" keep set is
# reproducible across engines and runs).
SOURCE_CAP = 15


@register(
    "source_cap_sample",
    oracle=f"""
        WITH r AS (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT,
                                doc_id) AS rn
            FROM documents
        )
        SELECT doc_id, source FROM r WHERE rn <= {SOURCE_CAP}
    """,
    doc=f"""Per-source document cap (domain balancing — the "no more
    than N pages per domain" rule of web-corpus curation): documents
    ordered by a portable hash WITHIN each source (a deterministic
    shuffle), keep the first {SOURCE_CAP}.  The window is PARTITIONED
    by source — never global — and the hash order makes the kept set
    reproducible across engines, runs, and file layouts (same property
    as sample_hash_bucket).""",
)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        portable_hash32(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SOURCE_CAP)
        .drop("rn")
    )


# Length-bucketed batching: docs grouped into fixed-size batches of
# similar token length so per-batch padding (to the batch max) wastes
# the least compute — the standard inference/training batcher.
LB_BUCKET_WIDTH = 16


LB_BATCH_SIZE = 8


@register(
    "length_bucketed_batches",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                   (len(string_split(text, ' ')) // {LB_BUCKET_WIDTH})::BIGINT
                       AS bucket
            FROM documents
        ), seq AS (
            SELECT doc_id, n_tokens, bucket,
                   (row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
                       - 1) // {LB_BATCH_SIZE} AS batch_seq
            FROM t
        )
        SELECT bucket, batch_seq::BIGINT AS batch_seq,
               count(*)::BIGINT AS n_docs,
               max(n_tokens)::BIGINT AS max_len,
               sum(n_tokens)::BIGINT AS sum_len,
               (max(n_tokens) * count(*) - sum(n_tokens))::BIGINT
                   AS padding_waste,
               round(sum(n_tokens)::DOUBLE / (max(n_tokens) * count(*)), 6)
                   AS efficiency
        FROM seq GROUP BY bucket, batch_seq
    """,
    doc=f"""Length-bucketed batching (inference/training serving
    staple): documents are bucketed by token length
    (width {LB_BUCKET_WIDTH}) and packed into batches of
    {LB_BATCH_SIZE} in deterministic id order; each batch reports its
    padding waste (every sequence pads to the batch max).  Scale
    shape: the sequencing window partitions on the length bucket —
    bounded partitions, never a global sort; batch stats are one keyed
    groupBy with full map-side combine.""",
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    n = F.size(tokens("text"))
    t = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.floor(n / LB_BUCKET_WIDTH).alias("bucket"),
    )
    w = W.partitionBy("bucket").orderBy("doc_id")
    seq = t.withColumn(
        "batch_seq",
        F.floor((F.row_number().over(w) - 1) / LB_BATCH_SIZE),
    )
    eff = F.col("sum_len") / (F.col("max_len") * F.col("n_docs"))
    return (
        seq.groupBy("bucket", "batch_seq")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max("n_tokens").cast("long").alias("max_len"),
            F.sum("n_tokens").cast("long").alias("sum_len"),
        )
        .select(
            "bucket",
            "batch_seq",
            "n_docs",
            "max_len",
            "sum_len",
            (F.col("max_len") * F.col("n_docs") - F.col("sum_len"))
            .cast("long")
            .alias("padding_waste"),
            F.round(eff, 6).alias("efficiency"),
        )
    )


# Token budget for one training epoch of the mixture (the recipe math
# behind Pile/LLaMA-style source weighting).
MIX_TOKEN_BUDGET = 1_000_000


# Deterministic per-source target weight: source srcN gets weight
# (N+1) / sum(1..20) — a stand-in for a hand-tuned recipe table, kept
# as a formula so the oracle needs no 20-entry literal.
MIX_WEIGHT_DENOM = 210  # sum(1..20)


def _mixture_inventory(docs: DataFrame) -> DataFrame:
    """Shared recipe math for the mixture queries: per-source token
    inventory + the epoch token quota (``target_tokens``) — ONE
    definition so mixture_epoch_plan and mixture_materialize (and their
    oracles' shared CTE text) cannot silently diverge."""
    s = (
        docs.select(
            "source",
            (
                F.regexp_extract("source", r"src(\d+)", 1).cast("long") + 1
            ).alias("src_rank"),
            F.size(tokens("text")).alias("n_tokens"),
        )
        .groupBy("source", "src_rank")
        .agg(F.sum("n_tokens").cast("long").alias("source_tokens"))
    )
    target = F.round(
        F.lit(MIX_TOKEN_BUDGET) * F.col("src_rank") / MIX_WEIGHT_DENOM
    ).cast("long")
    return s.select(
        "source", "src_rank", "source_tokens", target.alias("target_tokens")
    )


@register(
    "mixture_epoch_plan",
    oracle=f"""
        WITH s AS (
            SELECT source,
                   regexp_extract(source, 'src(\\d+)', 1)::BIGINT + 1
                       AS src_rank,
                   sum(len(string_split(text, ' ')))::BIGINT
                       AS source_tokens
            FROM documents GROUP BY source
        )
        SELECT source, source_tokens,
               round(src_rank / {MIX_WEIGHT_DENOM}.0, 6) AS weight,
               round({MIX_TOKEN_BUDGET} * src_rank
                     / {MIX_WEIGHT_DENOM}.0)::BIGINT AS target_tokens,
               round(round({MIX_TOKEN_BUDGET} * src_rank
                           / {MIX_WEIGHT_DENOM}.0)
                     / source_tokens::DOUBLE, 6) AS epochs
        FROM s
    """,
    doc=f"""Data-mixture epoch plan (the Pile/LLaMA recipe math): given
    per-source token inventories and target mixture weights, compute
    each source's token quota for a {MIX_TOKEN_BUDGET}-token epoch and
    the repeat factor (epochs > 1 = upsample, < 1 = subsample) needed
    to hit it.  Scale shape: one keyed aggregate over the corpus for
    the inventory; the plan itself is |sources| rows of scalar math —
    the artifact a sampler (curriculum_mixture_sample,
    weighted_sample_ares) consumes.""",
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    inv = _mixture_inventory(load_table(spark, "documents", sf_dir))
    return inv.select(
        "source",
        "source_tokens",
        F.round(F.col("src_rank") / MIX_WEIGHT_DENOM, 6).alias("weight"),
        "target_tokens",
        F.round(F.col("target_tokens") / F.col("source_tokens"), 6).alias(
            "epochs"
        ),
    )


@register(
    "quality_calibrate_by_source",
    oracle="""
        WITH q AS (
            SELECT doc_id, source,
                   round(0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                     + 0.3 * (len(list_filter(string_split(text, ' '),
                           t -> t IN ('a','and','for','in','is','of','on',
                                      'the','to','with')))
                         / len(string_split(text, ' ')))
                     + 0.3 * (1 - len(regexp_replace(lower(text),
                                      '[a-z0-9 ]', '', 'g'))::DOUBLE
                                  / len(text)), 6) AS quality
            FROM documents
        )
        SELECT doc_id, source, quality,
               round(percent_rank() OVER (PARTITION BY source
                                          ORDER BY quality, doc_id), 6)
                   AS source_pctile,
               (percent_rank() OVER (PARTITION BY source
                                     ORDER BY quality, doc_id)) >= 0.2
                   AS keep
        FROM q
    """,
    doc="""Per-source quality calibration (curation staple): a single
    global quality threshold over-prunes clean sources and under-prunes
    noisy ones, so each document is scored by its PERCENTILE WITHIN ITS
    SOURCE and the keep rule ("top 80% of each source") applies
    uniformly across sources.  Scale shape: the quality heuristic is
    the same codegen'd expression as text_quality (no UDF); the
    percentile is a window PARTITIONED by source — bounded partitions,
    never a global sort.  doc_id tiebreaks make the rank exact
    cross-engine.""",
)
def quality_calibrate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    q = docs.select("doc_id", "source", quality_expr("text").alias("quality"))
    w = W.partitionBy("source").orderBy("quality", "doc_id")
    pct = F.percent_rank().over(w)
    return q.select(
        "doc_id",
        "source",
        "quality",
        F.round(pct, 6).alias("source_pctile"),
        (pct >= 0.2).alias("keep"),
    )


@register(
    "mixture_materialize",
    oracle=f"""
        WITH s AS (
            SELECT source,
                   regexp_extract(source, 'src(\\d+)', 1)::BIGINT + 1
                       AS src_rank,
                   sum(len(string_split(text, ' ')))::BIGINT
                       AS source_tokens
            FROM documents GROUP BY source
        ), plan AS (
            SELECT source,
                   round({MIX_TOKEN_BUDGET} * src_rank
                         / {MIX_WEIGHT_DENOM}.0)::BIGINT AS target_tokens,
                   source_tokens
            FROM s
        )
        SELECT d.doc_id, d.source, r.rep AS repeat_idx
        FROM documents d
        JOIN plan p ON d.source = p.source,
        LATERAL (
            SELECT unnest(generate_series(0,
                ((p.target_tokens // p.source_tokens)
                 + CASE WHEN ((d.doc_id % 1000000)
                              * (2654435761 % 1000000)) % 1000000
                          < ((p.target_tokens % p.source_tokens) * 1000000
                             // p.source_tokens)
                        THEN 1 ELSE 0 END) - 1)) AS rep) r
    """,
    doc=f"""Materialize the mixture plan: each document is emitted
    floor(epochs) times plus one more with probability frac(epochs),
    decided by a deterministic per-document hash draw — so the
    realized per-source token mass converges to the plan's quota
    (Poisson-rounded upsampling, the standard way repeat factors
    become an actual training set).  Scale shape: the |sources|-row
    plan broadcast-joins the corpus; repetition is explode(sequence)
    computed per row — no shuffle of repeated data (downstream
    shuffling happens post-explode only if the consumer needs it);
    the hash draw reuses the Knuth multiplicative constant for a
    uniform integer in [0, 1e6).""",
)
def mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    plan = _mixture_inventory(docs).select(
        "source", "target_tokens", "source_tokens"
    )
    # Integer arithmetic end to end (div / %): FP division + truncation
    # can land one ulp under an exact integer ratio, and the oracle's
    # // is exact — so the Spark side must be exact too.
    base_reps = F.expr("target_tokens div source_tokens")
    frac_ppm = F.expr(
        "((target_tokens % source_tokens) * 1000000) div source_tokens"
    )
    # Modular reduction BEFORE the multiply: (a*b) mod m ==
    # ((a mod m)*(b mod m)) mod m, and the reduced product is < 1e6 *
    # 435761 < 2^39 — so the draw never wraps a 64-bit long no matter
    # how large doc_id grows (the naive doc_id * 2654435761 wraps
    # negative past doc_id ~3.47e9, admitting every doc), and the
    # oracle's BIGINT multiply cannot overflow-error either.
    draw = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1_000_000))
        * F.lit(2654435761 % 1_000_000),
        F.lit(1_000_000),
    )
    n_reps = base_reps + F.when(draw < frac_ppm, 1).otherwise(0)
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(plan), "source")
        .where(n_reps > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), n_reps - 1)).alias("repeat_idx"),
        )
        .select("doc_id", "source", "repeat_idx")
    )


KFOLDS = 5


@register(
    "stratified_kfold_split",
    oracle=f"""
        SELECT doc_id, lang,
               ((row_number() OVER (
                    PARTITION BY lang
                    ORDER BY {duckdb_hash32_sql('doc_id::VARCHAR')}, doc_id)
                 - 1) % {KFOLDS})::INT AS fold
        FROM documents
    """,
    doc=f"""Stratified {KFOLDS}-fold cross-validation assignment: within
    each language stratum, documents are ranked by portable hash (a
    deterministic shuffle — reproducible across runs and engines) and
    dealt round-robin into folds, so every (stratum, fold) cell is
    balanced to within one document — the EXACT stratification a plain
    hash-mod split only approximates.  Scale shape: one window per
    stratum (partitioned by lang, never unpartitioned); a corpus whose
    single stratum outgrows a partition would swap in the same
    hierarchical rank used by rfm_customer_segments.  Membership
    depends only on (lang, corpus content), not on physical layout.""",
)
def stratified_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("lang").orderBy(
        portable_hash32(F.col("doc_id").cast("string")), "doc_id"
    )
    return docs.select(
        "doc_id",
        "lang",
        ((F.row_number().over(w) - F.lit(1)) % KFOLDS)
        .cast("int")
        .alias("fold"),
    )


# Hashed-feature space for DSIR (Xie et al., "Data Selection for
# Language Models via Importance Resampling", NeurIPS'23 — public
# method): unigrams hash into B buckets, and both the target and raw
# distributions are estimated over the SAME bucketed vocabulary, so the
# per-bucket log-ratio table is a bounded B-row broadcast no matter how
# large the corpus vocabulary grows.
DSIR_BUCKETS = 256


DSIR_TARGET_LANG = "en"


# Candidate context lengths priced by packing_efficiency_audit.
PACK_CONTEXT_LENGTHS = (64, 128, 256, 512)


@register(
    "dsir_importance_weights",
    oracle=f"""
        WITH tok AS (
            SELECT d.doc_id, d.lang,
                   {duckdb_hash32_sql('t')} % {DSIR_BUCKETS} AS bucket
            FROM (SELECT doc_id, lang,
                         unnest(string_split(text, ' ')) AS t
                  FROM documents) d
        ), raw_c AS (
            SELECT bucket, count(*) AS cr FROM tok GROUP BY bucket
        ), tgt_c AS (
            SELECT bucket, count(*) AS ct FROM tok
            WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
        ), tot AS (
            SELECT (SELECT sum(cr) FROM raw_c) AS nr,
                   (SELECT coalesce(sum(ct), 0) FROM tgt_c) AS nt
        ), ratio AS (
            SELECT r.bucket,
                   round((ln((coalesce(t.ct, 0) + 1.0)
                             / (tot.nt + {DSIR_BUCKETS}))
                          - ln((r.cr + 1.0)
                               / (tot.nr + {DSIR_BUCKETS}))) * 1000000)::BIGINT
                       AS ratio_micros
            FROM raw_c r LEFT JOIN tgt_c t USING (bucket) CROSS JOIN tot
        )
        SELECT tok.doc_id,
               count(*)::BIGINT AS n_tokens,
               round(sum(ratio.ratio_micros)::DOUBLE / 1000000.0, 6)
                   AS log_weight
        FROM tok JOIN ratio USING (bucket)
        GROUP BY tok.doc_id
    """,
    doc=f"""DSIR importance weights (Xie et al., NeurIPS'23 — hashed
    n-gram importance resampling): estimate add-one-smoothed unigram
    models of the TARGET distribution (here lang =
    '{DSIR_TARGET_LANG}') and the RAW corpus over {DSIR_BUCKETS} hashed
    buckets, then score every raw document by its summed per-token
    log-likelihood ratio — the importance weight that, sampled
    proportionally, reshapes the raw corpus toward the target.  The
    per-bucket log-ratio is quantized to integer MICROS before the
    per-document sum (the unigram_perplexity_score trick), so partial
    aggregation order can never flip a rounded digit.  Scale shape:
    bucket counting is one {DSIR_BUCKETS}-key groupBy (map-side
    combine collapses it before the shuffle), the ratio table is a
    bounded {DSIR_BUCKETS}-row broadcast, and scoring is the token
    stream joined to that broadcast plus one doc-keyed aggregate — the
    same linear footprint at 100 TB, with no vocabulary-sized state
    anywhere.""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("t")
    ).select(
        "doc_id",
        "lang",
        (portable_hash32(F.col("t")) % DSIR_BUCKETS).alias("bucket"),
    )
    # ONE tally pass for BOTH unigram models (round-10, session 3: the
    # old shape ran separate raw and target groupBys over the token
    # stream plus a left join to line them up — the conditional count
    # inside one aggregate produces the identical (cr, ct) pairs, with
    # ct = 0 exactly where the old join's coalesce(NULL) landed).  The
    # ≤DSIR_BUCKETS-row tally is pinned: the totals row and the ratio
    # projection both read it, and the final scoring join is the only
    # other token-stream pass — 5 effective corpus scans → 2.
    tally = (
        tok.groupBy("bucket")
        .agg(
            F.count("*").alias("cr"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("ct"),
        )
        .localCheckpoint(eager=True)
    )
    tot = tally.agg(
        F.sum("cr").alias("nr"),
        F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"),
    )
    ratio = (
        tally.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                        / (F.col("nt") + F.lit(DSIR_BUCKETS))
                    )
                    - F.log(
                        (F.col("cr") + F.lit(1.0))
                        / (F.col("nr") + F.lit(DSIR_BUCKETS))
                    )
                )
                * 1_000_000
            )
            .cast("long")
            .alias("ratio_micros"),
        )
    )
    return (
        tok.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.sum("ratio_micros").cast("double") / 1_000_000.0, 6
            ).alias("log_weight"),
        )
    )


@register(
    "packing_efficiency_audit",
    oracle=f"""
        WITH doc_len AS (
            SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n
            FROM documents
        ), lens AS (
            SELECT unnest([{", ".join(map(str, PACK_CONTEXT_LENGTHS))}])
                AS context_len
        )
        SELECT l.context_len::BIGINT AS context_len,
               count(*)::BIGINT AS n_docs,
               sum(d.n)::BIGINT AS total_tokens,
               sum(((d.n + l.context_len - 1) // l.context_len)
                   * l.context_len)::BIGINT AS total_padded,
               round(sum(d.n)::DOUBLE
                     / sum(((d.n + l.context_len - 1) // l.context_len)
                           * l.context_len), 6) AS pad_efficiency,
               sum(CASE WHEN d.n > l.context_len THEN 1 ELSE 0 END)::BIGINT
                   AS oversize_docs,
               round(sum(CASE WHEN d.n > l.context_len
                              THEN d.n - l.context_len ELSE 0 END)::DOUBLE
                     / sum(d.n), 6) AS trunc_loss_frac
        FROM doc_len d CROSS JOIN lens l
        GROUP BY l.context_len
    """,
    doc=f"""Context-length pricing audit: for each candidate context
    length {PACK_CONTEXT_LENGTHS}, the corpus-wide padding efficiency
    under document-per-window packing (each doc occupies
    ceil(n/L) windows padded to L) and the truncation loss under
    single-window training (tokens beyond L dropped) — the two numbers
    that decide a pretraining context budget BEFORE anyone packs a
    batch (pack_context_windows then executes the chosen L).  All
    aggregates are integer sums, so the round-6 ratios are exact
    regardless of accumulation order.  Scale shape: one scan computes
    per-doc token counts, a {len(PACK_CONTEXT_LENGTHS)}-row literal
    array explodes each doc into its per-L row map-side (no join, no
    extra scan), and the final groupBy carries
    {len(PACK_CONTEXT_LENGTHS)} keys — map-side combine reduces it to
    per-partition scalars before the only shuffle.""",
)
def packing_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    doc_len = docs.select(
        F.size(tokens("text")).cast("long").alias("n"),
        F.explode(
            F.array(*[F.lit(length) for length in PACK_CONTEXT_LENGTHS])
        ).alias("context_len"),
    )
    padded = (
        F.floor(
            (F.col("n") + F.col("context_len") - 1) / F.col("context_len")
        )
        * F.col("context_len")
    )
    over = F.col("n") > F.col("context_len")
    return (
        doc_len.groupBy(F.col("context_len").cast("long").alias("context_len"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(padded).cast("long").alias("total_padded"),
            F.round(
                F.sum("n").cast("double") / F.sum(padded), 6
            ).alias("pad_efficiency"),
            F.sum(over.cast("int")).cast("long").alias("oversize_docs"),
            F.round(
                F.sum(
                    F.when(over, F.col("n") - F.col("context_len")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum("n"),
                6,
            ).alias("trunc_loss_frac"),
        )
    )


# The held-out "evaluation" slice for the embedding contamination
# check: one label plays the benchmark set, the rest are training data.
CONTAM_EVAL_LABEL = 9


@register(
    "embedding_contamination_check",
    oracle=f"""
        WITH ev AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE label = {CONTAM_EVAL_LABEL}
        ), tr AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE label <> {CONTAM_EVAL_LABEL}
        ), scored AS (
            SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
                   round(list_dot_product(ev.v, tr.v)
                         / (sqrt(list_dot_product(ev.v, ev.v))
                            * sqrt(list_dot_product(tr.v, tr.v))), 6)
                       AS cosine_sim
            FROM ev CROSS JOIN tr
        )
        SELECT eval_id, train_id AS best_train_id,
               cosine_sim AS best_sim,
               cosine_sim >= {EMBED_DUP_THRESHOLD} AS contaminated
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY eval_id
                ORDER BY cosine_sim DESC, train_id) AS rn
            FROM scored
        ) WHERE rn = 1
    """,
    doc=f"""Semantic train/eval contamination check: for every vector
    in the held-out slice (label {CONTAM_EVAL_LABEL} plays the
    benchmark set), its nearest training vector by cosine and whether
    that similarity crosses the near-dup threshold
    ({EMBED_DUP_THRESHOLD}) — the embedding-space complement to
    ngram_contamination_check (exact n-gram overlap misses paraphrased
    leakage; embedding similarity catches it).  Scored via the
    Arrow-batched BLAS scorer (operators/similarity.py:
    nearest_cross_vectorized — the sim_topk_vectorized machinery): the
    eval matrix ships in the UDF closure (|eval| rows is the only
    driver collect; benchmark sets are small by construction), each
    corpus batch emits its per-batch best per query, and a window picks
    the global winner — round-then-rank with train_id tie-break,
    matching the oracle exactly.  At 100 TB the same scoring runs
    IVF-bucketed (cosine_topk_bucketed) so only same-cluster pairs are
    scored.""",
)
def embedding_contamination_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import nearest_cross_vectorized

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ev = emb.where(F.col("label") == CONTAM_EVAL_LABEL).select(
        F.col("vec_id").alias("eval_id"), "v"
    )
    tr = emb.where(F.col("label") != CONTAM_EVAL_LABEL).select(
        F.col("vec_id").alias("train_id"), "v"
    )
    best = nearest_cross_vectorized(tr, ev)
    return best.select(
        "eval_id",
        F.col("train_id").alias("best_train_id"),
        F.col("cosine_sim").alias("best_sim"),
        (F.col("cosine_sim") >= EMBED_DUP_THRESHOLD).alias("contaminated"),
    )


# Cutoff for the ranking-evaluation query.
PREC_AT_K = 100


@register(
    "quality_precision_at_k",
    oracle=f"""
        WITH scored AS (
            SELECT d.lang,
                   round(0.4 * least(len(string_split(d.text, ' ')) / 100.0,
                                     1.0)
                         + 0.3 * (len(list_filter(string_split(d.text, ' '),
                                      t -> t IN ({STOPLIST_SQL})))::DOUBLE
                                  / len(string_split(d.text, ' ')))
                         + 0.3 * (1 - length(regexp_replace(lower(d.text),
                                      '[a-z0-9 ]', '', 'g'))::DOUBLE
                                      / length(d.text)), 6) AS quality,
                   d.doc_id
            FROM documents d
        ), top AS (
            SELECT lang FROM scored
            ORDER BY quality DESC, doc_id ASC LIMIT {PREC_AT_K}
        )
        SELECT {PREC_AT_K}::BIGINT AS k,
               count(*)::BIGINT AS n_retrieved,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                   AS n_positive,
               round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 6) AS precision_at_k
        FROM top
    """,
    doc=f"""Precision@{PREC_AT_K} of the quality ranking against the
    'en' label — the ranking-evaluation companion to lang_id_confusion
    (that measures a CLASSIFIER cell-by-cell; this measures whether a
    SCORE orders the corpus usefully, the question a selection
    threshold actually asks).  The top-{PREC_AT_K} cut is a global
    (quality DESC, doc_id) order + limit — Spark plans it as
    TakeOrderedAndProject (per-partition top-k, then a {PREC_AT_K}-row
    merge on one reducer; the bm25_topk scale path, never a full
    sort) — followed by one scalar aggregate.""",
)
def quality_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    # One projection instead of scan + scan + 1:1 self-join on doc_id
    # (round-10, session 3 — the quality_auc_en pattern).
    scored = docs.select(
        "doc_id", quality_expr("text").alias("quality"), "lang"
    )
    top = scored.orderBy(F.desc("quality"), F.asc("doc_id")).limit(PREC_AT_K)
    pos = F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
    return top.agg(
        F.lit(PREC_AT_K).cast("long").alias("k"),
        F.count("*").cast("long").alias("n_retrieved"),
        pos.cast("long").alias("n_positive"),
        F.round(pos.cast("double") / F.count("*"), 6).alias(
            "precision_at_k"
        ),
    )


# Range-bucket fan-out for the hierarchical rank-sum (quality scores
# live in [0, 1]; 32 equi-width buckets keep every window partitioned).
AUC_BUCKETS = 32


@register(
    "quality_auc_en",
    oracle=f"""
        WITH scored AS (
            SELECT round(0.4 * least(len(string_split(text, ' ')) / 100.0,
                                     1.0)
                         + 0.3 * (len(list_filter(string_split(text, ' '),
                                      t -> t IN ({STOPLIST_SQL})))::DOUBLE
                                  / len(string_split(text, ' ')))
                         + 0.3 * (1 - length(regexp_replace(lower(text),
                                      '[a-z0-9 ]', '', 'g'))::DOUBLE
                                      / length(text)), 6) AS quality,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
            FROM documents
        ), g AS (
            SELECT quality, count(*)::BIGINT AS n,
                   sum(pos)::BIGINT AS n_pos
            FROM scored GROUP BY quality
        ), ranked AS (
            SELECT quality, n, n_pos,
                   coalesce(sum(n) OVER (ORDER BY quality
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum_less
            FROM g
        ), tot AS (
            SELECT sum(n_pos) AS np, sum(n) - sum(n_pos) AS nn FROM g
        )
        SELECT tot.np::BIGINT AS n_positive,
               tot.nn::BIGINT AS n_negative,
               round((sum(ranked.n_pos * (ranked.cum_less
                                          + (ranked.n + 1) / 2.0))
                      - tot.np * (tot.np + 1) / 2.0)
                     / (tot.np * tot.nn), 6) AS auc
        FROM ranked CROSS JOIN tot
        GROUP BY tot.np, tot.nn
    """,
    doc=f"""Tie-corrected AUC (Mann-Whitney rank-sum with midranks) of
    the quality score against the 'en' label — the threshold-free
    ranking metric completing the evaluation family
    (lang_id_confusion = classifier cells, quality_precision_at_k =
    one cutoff, this = every cutoff at once).  The rank-sum needs a
    GLOBAL cumulative count over score order — computed hierarchically
    (the skyline/pack pattern): scores collapse to distinct-value
    groups first (bounded at ≤1e6+1 rows by the round-6 grid, no
    matter the corpus size), groups range-bucket by value into
    {AUC_BUCKETS} equi-width buckets, the within-bucket exclusive
    prefix runs in a bucket-PARTITIONED window, and only
    {AUC_BUCKETS} per-bucket totals collect to become broadcast
    offsets — never an unpartitioned window, never a data collect.
    Midranks are half-integers and counts are ints, so every sum is
    exact in double: no accumulation-order hazard anywhere.""",
)
def quality_auc_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    # ONE projection carries quality AND the label (round-10, session
    # 3): the old shape scanned documents twice and equi-joined the two
    # halves back together on doc_id — a 1:1 self-join whose only
    # purpose was re-attaching `lang` to the score.
    scored = docs.select(quality_expr("text").alias("quality"), "lang")
    g = scored.groupBy("quality").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    bucket = F.least(
        F.floor(F.col("quality") * AUC_BUCKETS).cast("long"),
        F.lit(AUC_BUCKETS - 1),
    )
    # Pin the bounded distinct-score frame (≤ 1e6+1 rows by the
    # round-6 grid): the bucket-offset collect, the ranked window and
    # the totals row all hang off it, and without the cut each one
    # re-derived the full text-scoring scan — 4 effective corpus scans
    # in the before plan (the change-8 waist pattern).  Lazy: the
    # offset collect right below is the job that materializes it.
    g = g.withColumn("_b", bucket).localCheckpoint(eager=False)
    per_bucket = {
        int(r["_b"]): int(r["s"])
        for r in g.groupBy("_b").agg(F.sum("n").alias("s")).collect()
    }
    running, offsets = 0, []
    for b in sorted(per_bucket):
        offsets.append((b, running))
        running += per_bucket[b]
    off = spark.createDataFrame(offsets, "_b long, _off long")
    w = (
        W.partitionBy("_b")
        .orderBy("quality")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = (
        g.join(F.broadcast(off), "_b")
        .withColumn(
            "cum_less",
            F.coalesce(F.sum("n").over(w), F.lit(0)) + F.col("_off"),
        )
    )
    tot = g.agg(
        F.sum("n_pos").cast("long").alias("np"),
        (F.sum("n") - F.sum("n_pos")).cast("long").alias("nn"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("np", "nn")
        .agg(
            F.round(
                (
                    F.sum(
                        F.col("n_pos")
                        * (F.col("cum_less") + (F.col("n") + 1) / 2.0)
                    )
                    - F.col("np") * (F.col("np") + 1) / 2.0
                )
                / (F.col("np") * F.col("nn")),
                6,
            ).alias("auc")
        )
        .select(
            F.col("np").alias("n_positive"),
            F.col("nn").alias("n_negative"),
            "auc",
        )
    )


# Equi-width score bands for the gains curve (quality lives in [0,1]).
GAINS_BANDS = 32


@register(
    "quality_gains_by_band",
    oracle=f"""
        WITH scored AS (
            SELECT least(floor(round(
                       0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                       + 0.3 * (len(list_filter(string_split(text, ' '),
                                    t -> t IN ({STOPLIST_SQL})))::DOUBLE
                                / len(string_split(text, ' ')))
                       + 0.3 * (1 - length(regexp_replace(lower(text),
                                    '[a-z0-9 ]', '', 'g'))::DOUBLE
                                    / length(text)), 6)
                       * {GAINS_BANDS})::BIGINT, {GAINS_BANDS - 1}) AS band,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
            FROM documents
        ), band_agg AS (
            SELECT band, count(*)::BIGINT AS n, sum(pos)::BIGINT AS npos
            FROM scored GROUP BY band
        ), fan AS (
            SELECT unnest(generate_series(0, band)) AS band_cut, n, npos
            FROM band_agg
        ), cum AS (
            SELECT band_cut, sum(n)::BIGINT AS n_selected,
                   sum(npos)::BIGINT AS n_positive
            FROM fan GROUP BY band_cut
        ), tot AS (
            SELECT count(*)::BIGINT AS nt, sum(pos)::BIGINT AS pt FROM scored
        )
        SELECT cum.band_cut,
               round(cum.band_cut / {GAINS_BANDS}.0, 6) AS cut_quality,
               cum.n_selected, cum.n_positive,
               round(cum.n_selected::DOUBLE / tot.nt, 6) AS selected_share,
               round(cum.n_positive::DOUBLE / tot.pt, 6) AS recall,
               round(cum.n_positive::DOUBLE * tot.nt
                     / (cum.n_selected * tot.pt), 6) AS lift
        FROM cum CROSS JOIN tot
    """,
    doc=f"""Cumulative gains/lift curve of the quality ranking against
    the 'en' label, banded into {GAINS_BANDS} equi-width score cutoffs:
    for each cutoff, the selected volume, the share of all positives
    captured (recall), and the lift over random selection.  The curve a
    selection budget is read off of — AUC says the ranking works,
    this says WHERE to cut.  The cumulative-from-the-top sums use the
    bounded fan-out pattern (each band row explodes to the cutoffs it
    satisfies, ≤{GAINS_BANDS} rows each, then one equi-groupBy) —
    never an unpartitioned window, exactly like decayed_hourly_traffic;
    the fan-out input is the ≤{GAINS_BANDS}-row band aggregate, so the
    explode is O(bands²) regardless of corpus size.  Counts are exact
    integers; every ratio is one deterministic double division.""",
)
def quality_gains_by_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    # One projection instead of scan + scan + 1:1 self-join on doc_id
    # (round-10, session 3 — the quality_auc_en pattern).
    scored = docs.select(quality_expr("text").alias("quality"), "lang")
    band = F.least(
        F.floor(F.col("quality") * GAINS_BANDS).cast("long"),
        F.lit(GAINS_BANDS - 1),
    )
    # Pin the ≤GAINS_BANDS-row band aggregate: the totals row and the
    # cumulative fan-out both hang off it, and each re-derived the full
    # text-scoring scan (change-8 waist; eager — both consumers sit in
    # the same final action, so there is no earlier job to ride).
    band_agg = scored.select(
        band.alias("band"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    ).groupBy("band").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("npos"),
    ).localCheckpoint(eager=True)
    tot = band_agg.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("npos").cast("long").alias("pt"),
    )
    cum = (
        band_agg.select(
            F.explode(F.sequence(F.lit(0), F.col("band"))).alias("band_cut"),
            "n",
            "npos",
        )
        .groupBy("band_cut")
        .agg(
            F.sum("n").cast("long").alias("n_selected"),
            F.sum("npos").cast("long").alias("n_positive"),
        )
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "band_cut",
        F.round(F.col("band_cut") / float(GAINS_BANDS), 6).alias("cut_quality"),
        "n_selected",
        "n_positive",
        F.round(F.col("n_selected").cast("double") / F.col("nt"), 6).alias(
            "selected_share"
        ),
        F.round(F.col("n_positive").cast("double") / F.col("pt"), 6).alias(
            "recall"
        ),
        F.round(
            F.col("n_positive").cast("double")
            * F.col("nt")
            / (F.col("n_selected") * F.col("pt")),
            6,
        ).alias("lift"),
    )


# k-anonymity threshold and the account-balance banding used as the
# sensitive attribute for l-diversity (low/mid/high thirds of the
# TPC-H acctbal range).
K_ANON = 10


ACCTBAL_BANDS = (0.0, 5000.0)


# Erasure request predicate: deeply negative balances (~0.7% of
# customers) stand in for an explicit deletion-request list.
ERASE_BAL = -900.0


_BAND_SQL = (
    f"CASE WHEN c_acctbal < {ACCTBAL_BANDS[0]} THEN 'low' "
    f"WHEN c_acctbal < {ACCTBAL_BANDS[1]} THEN 'mid' ELSE 'high' END"
)


@register(
    "k_anonymity_audit",
    oracle=f"""
        WITH cls AS (
            SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS sz,
                   count(DISTINCT {_BAND_SQL})::BIGINT AS l_div
            FROM customer GROUP BY c_nationkey, c_mktsegment
        ), fine AS (
            SELECT count(*)::BIGINT AS n_classes,
                   sum(sz)::BIGINT AS n_rows,
                   count(*) FILTER (WHERE sz < {K_ANON})::BIGINT
                       AS n_violating_classes,
                   coalesce(sum(sz) FILTER (WHERE sz < {K_ANON}), 0)::BIGINT
                       AS n_rows_at_risk,
                   min(sz)::BIGINT AS min_class_size,
                   min(l_div)::BIGINT AS min_l
            FROM cls
        ), coarse AS (
            SELECT count(*)::BIGINT AS n_classes_coarse,
                   count(*) FILTER (WHERE sz < {K_ANON})::BIGINT
                       AS n_violating_coarse,
                   min(sz)::BIGINT AS min_class_size_coarse
            FROM (
                SELECT c_nationkey, count(*)::BIGINT AS sz
                FROM customer GROUP BY c_nationkey
            )
        )
        SELECT {K_ANON}::BIGINT AS k, fine.*, coarse.* FROM fine, coarse
    """,
    doc=f"""k-anonymity / l-diversity screen (k = {K_ANON}) of the
    customer table under QI = (nation, segment), plus the one-step
    generalization (QI = nation alone) that shows coarsening restoring
    k.  Two grouped aggregations over the dimension; the class frame
    is |nations × segments| rows, the audit a single row.  At 100 TB
    the QI groupBy is one keyed shuffle over the dimension table —
    the fact tables never participate.""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    band = (
        F.when(F.col("c_acctbal") < ACCTBAL_BANDS[0], "low")
        .when(F.col("c_acctbal") < ACCTBAL_BANDS[1], "mid")
        .otherwise("high")
    )
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct(band).alias("l_div"),
    )
    fine = cls.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("sz").alias("n_rows"),
        F.count(F.when(F.col("sz") < K_ANON, 1)).alias("n_violating_classes"),
        F.coalesce(
            F.sum(F.when(F.col("sz") < K_ANON, F.col("sz"))), F.lit(0)
        ).alias("n_rows_at_risk"),
        F.min("sz").alias("min_class_size"),
        F.min("l_div").alias("min_l"),
    )
    coarse = (
        cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.count(F.lit(1)).alias("n_classes_coarse"),
            F.count(F.when(F.col("sz") < K_ANON, 1)).alias("n_violating_coarse"),
            F.min("sz").alias("min_class_size_coarse"),
        )
    )
    return fine.crossJoin(F.broadcast(coarse)).select(
        F.lit(K_ANON).cast("long").alias("k"),
        "n_classes",
        "n_rows",
        "n_violating_classes",
        "n_rows_at_risk",
        "min_class_size",
        "min_l",
        "n_classes_coarse",
        "n_violating_coarse",
        "min_class_size_coarse",
    )


@register(
    "erasure_cascade_audit",
    oracle=f"""
        WITH forget AS (
            SELECT c_custkey FROM customer WHERE c_acctbal < {ERASE_BAL}
        ), eo AS (
            SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM forget)
        )
        SELECT 'customer' AS tbl, count(*)::BIGINT AS n_total,
               count(*) FILTER (WHERE c_acctbal < {ERASE_BAL})::BIGINT
                   AS n_erased,
               coalesce(sum(c_custkey)
                        FILTER (WHERE c_acctbal < {ERASE_BAL}), 0)::BIGINT
                   AS erased_key_checksum
        FROM customer
        UNION ALL
        SELECT 'orders', count(*)::BIGINT,
               count(*) FILTER (WHERE o_orderkey IN
                                (SELECT o_orderkey FROM eo))::BIGINT,
               coalesce(sum(o_orderkey)
                        FILTER (WHERE o_orderkey IN
                                (SELECT o_orderkey FROM eo)), 0)::BIGINT
        FROM orders
        UNION ALL
        SELECT 'lineitem', count(*)::BIGINT,
               count(*) FILTER (WHERE l_orderkey IN
                                (SELECT o_orderkey FROM eo))::BIGINT,
               coalesce(sum(l_orderkey + l_linenumber)
                        FILTER (WHERE l_orderkey IN
                                (SELECT o_orderkey FROM eo)), 0)::BIGINT
        FROM lineitem
    """,
    doc=f"""Right-to-be-forgotten cascade audit: customers flagged by
    the request predicate (acctbal < {ERASE_BAL}) cascade through
    orders to line items; per table the audit reports total rows, rows
    to erase, and an identity checksum over the erased keys — the
    artifact the erasure job must reproduce before and after deletion.
    Scale shape: the request set broadcasts (requests are tiny by
    nature); each fact table is scanned ONCE with an erased flag
    attached by join, so totals and erased counts share the scan; the
    orders→lineitem hop is a keyed semi-join that shuffles at 100 TB
    (the broadcast here reflects the flagged-order set staying small —
    requests × orders-per-customer).""",
)
def erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    forget = cust.where(F.col("c_acctbal") < ERASE_BAL).select("c_custkey")

    def _audit(df: DataFrame, tbl: str, flag, checksum) -> DataFrame:
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(flag, 1)).alias("n_erased"),
            F.coalesce(F.sum(F.when(flag, checksum)), F.lit(0))
            .cast("long")
            .alias("erased_key_checksum"),
        ).select("tbl", "n_total", "n_erased", "erased_key_checksum")

    c_flagged = cust.select(
        "c_custkey", "c_acctbal", (F.col("c_acctbal") < ERASE_BAL).alias("er")
    )
    o_flagged = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "left"
    ).select("o_orderkey", F.col("c_custkey").isNotNull().alias("er"))
    erased_orders = o_flagged.where("er").select("o_orderkey")
    l_flagged = li.join(
        F.broadcast(erased_orders.withColumnRenamed("o_orderkey", "eok")),
        li.l_orderkey == F.col("eok"),
        "left",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("eok").isNotNull().alias("er"),
    )
    return (
        _audit(c_flagged, "customer", F.col("er"), F.col("c_custkey"))
        .unionByName(_audit(o_flagged, "orders", F.col("er"), F.col("o_orderkey")))
        .unionByName(
            _audit(
                l_flagged,
                "lineitem",
                F.col("er"),
                F.col("l_orderkey") + F.col("l_linenumber"),
            )
        )
    )


# --- nDCG of the quality ranking ------------------------------------
# Graded gains by language tier (gain = 2^rel - 1 precomputed exactly:
# en rel=2 -> 3, de rel=1 -> 1, rest rel=0 -> 0).
NDCG_K = 100


_GAIN_SQL = "CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 1 ELSE 0 END"


def _quality_sql() -> str:
    return f"""round(0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
         + 0.3 * (len(list_filter(string_split(text, ' '),
                      t -> t IN ({STOPLIST_SQL})))::DOUBLE
                  / len(string_split(text, ' ')))
         + 0.3 * (1 - length(regexp_replace(lower(text),
                      '[a-z0-9 ]', '', 'g'))::DOUBLE
                      / length(text)), 6)"""


def _ndcg_oracle() -> str:
    return f"""
        WITH scored AS (
            SELECT doc_id, {_GAIN_SQL} AS gain, {_quality_sql()} AS quality
            FROM documents
        ), top AS (
            SELECT gain,
                   row_number() OVER (ORDER BY quality DESC, doc_id) AS r
            FROM scored ORDER BY quality DESC, doc_id LIMIT {NDCG_K}
        ), ideal AS (
            SELECT gain, row_number() OVER (ORDER BY gain DESC) AS r
            FROM scored ORDER BY gain DESC LIMIT {NDCG_K}
        ), dcg AS (
            SELECT sum(round(1e6 * gain / log2(r + 1))::BIGINT) AS micros
            FROM top
        ), idcg AS (
            SELECT sum(round(1e6 * gain / log2(r + 1))::BIGINT) AS micros
            FROM ideal
        )
        SELECT {NDCG_K}::BIGINT AS k,
               dcg.micros::BIGINT AS dcg_micros,
               idcg.micros::BIGINT AS idcg_micros,
               round(dcg.micros::DOUBLE / idcg.micros, 6) AS ndcg
        FROM dcg CROSS JOIN idcg
    """


@register(
    "ndcg_quality_ranking",
    oracle=_ndcg_oracle(),
    doc=f"""nDCG@{NDCG_K} (Järvelin & Kekäläinen '02) of the heuristic
    quality ranking against graded language relevance (gain tiers
    en=3, de=1, rest 0) — the position-discounted member of the
    ranking-evaluation family (quality_precision_at_k = one binary
    cutoff, quality_auc_en = every cutoff unweighted).  Per-position
    terms gain/log2(rank+1) are rounded to integer MICROS before the
    sum, so both DCG and ideal-DCG are exact integer sums — no
    FP-accumulation-order hazard across partitions; the single FP
    division happens once on two integers.  Scale shape: both the
    ranked cut and the ideal cut are (ORDER BY, LIMIT {NDCG_K}) —
    TakeOrderedAndProject per-partition top-k, never a full sort — and
    the rank window runs over the already-bounded {NDCG_K}-row frame
    (constant partition key, explicitly bounded by the preceding
    limit).""",
)
def ndcg_quality_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hierarchical_row_number
    from ..operators.text import quality_expr

    docs = load_table(spark, "documents", sf_dir)
    gain = (
        F.when(F.col("lang") == "en", 3)
        .when(F.col("lang") == "de", 1)
        .otherwise(0)
    )
    # One projection instead of scan + scan + 1:1 self-join on doc_id
    # (round-10, session 3 — the quality_auc_en pattern).
    scored = docs.select(
        "doc_id", quality_expr("text").alias("quality"), gain.alias("gain")
    )
    # Both cuts are bounded at NDCG_K rows BEFORE ranking; ranks come
    # from the engine's hierarchical row_number (never an unpartitioned
    # window, even over a bounded frame).  The cuts are eagerly
    # checkpointed: they are <= NDCG_K rows, and the ranker's sizing
    # probes would otherwise re-run the corpus quality scan per job.
    top = (
        scored.orderBy(F.desc("quality"), F.asc("doc_id"))
        .limit(NDCG_K)
        .localCheckpoint(eager=True)
    )
    top_r = hierarchical_row_number(
        top, -F.col("quality"), tiebreak="doc_id", out="r"
    )
    ideal = (
        scored.orderBy(F.desc("gain"), F.asc("doc_id"))
        .limit(NDCG_K)
        .localCheckpoint(eager=True)
    )
    ideal_r = hierarchical_row_number(
        ideal, -F.col("gain"), tiebreak="doc_id", out="r"
    )
    term = F.round(
        F.lit(1e6) * F.col("gain") / F.log2(F.col("r") + F.lit(1))
    ).cast("long")
    dcg = top_r.agg(F.sum(term).alias("dcg_micros"))
    idcg = ideal_r.agg(F.sum(term).alias("idcg_micros"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.lit(NDCG_K).cast("long").alias("k"),
            F.col("dcg_micros").cast("long"),
            F.col("idcg_micros").cast("long"),
            F.round(
                F.col("dcg_micros").cast("double") / F.col("idcg_micros"), 6
            ).alias("ndcg"),
        )
    )


# --- Mean reciprocal rank ----------------------------------------------
@register(
    "mrr_quality_by_source",
    oracle="""
        WITH ranked AS (
            SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id) AS r
            FROM documents
        ), firsts AS (
            SELECT source, min(r) AS first_rel
            FROM ranked WHERE lang = 'en' GROUP BY source
        ), rr AS (
            SELECT s.source,
                   coalesce(round(1000000.0 / f.first_rel), 0)::BIGINT
                       AS rr_ppm
            FROM (SELECT DISTINCT source FROM documents) s
            LEFT JOIN firsts f USING (source)
        )
        SELECT count(*)::BIGINT AS n_queries,
               sum(CASE WHEN rr_ppm > 0 THEN 1 ELSE 0 END)::BIGINT
                   AS n_with_relevant,
               sum(rr_ppm)::BIGINT AS total_rr_ppm,
               round(sum(rr_ppm)::DOUBLE / count(*))::BIGINT AS mrr_ppm
        FROM rr
    """,
    doc="""Mean reciprocal rank of the first relevant ('en') document
    across per-source length rankings — each source acts as a query,
    the position of its first relevant hit contributes 1/rank
    (integer ppm; sources with no relevant doc contribute 0) — the
    last member of the ranking-evaluation family
    (quality_precision_at_k = one cutoff, quality_auc_en = every
    cutoff, ndcg_quality_ranking = graded positions, this = first-hit
    latency, the navigational-retrieval metric).  Scale shape: one
    source-PARTITIONED rank window, a grouped min, and a
    |sources|-row summary — no global window, no collect.""",
)
def mrr_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    r = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    )
    ranked = docs.select("source", "lang", r.alias("r"))
    firsts = (
        ranked.where(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.min("r").alias("first_rel"))
    )
    rr = (
        docs.select("source")
        .distinct()
        .join(firsts, "source", "left")
        .select(
            F.coalesce(
                F.round(F.lit(1000000.0) / F.col("first_rel")), F.lit(0)
            )
            .cast("long")
            .alias("rr_ppm")
        )
    )
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("rr_ppm") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_with_relevant"),
        F.sum("rr_ppm").cast("long").alias("total_rr_ppm"),
        F.round(F.sum("rr_ppm").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mrr_ppm"),
    )


# --- training-shard shuffle quality ----------------------------------------
_SHUFFLE_SHARDS = 16


@register(
    "shard_shuffle_quality",
    oracle=f"""
        WITH ordered AS (
            SELECT source,
                   ({duckdb_hash32_sql("'shard:' || doc_id")})
                       % {_SHUFFLE_SHARDS} AS shard,
                   {duckdb_hash64_sql("'shuf:' || doc_id")} AS pos_h,
                   doc_id
            FROM documents
        ), lagged AS (
            SELECT source,
                   lag(source) OVER (PARTITION BY shard
                                     ORDER BY pos_h, doc_id) AS prev_source
            FROM ordered
        ), obs AS (
            SELECT (sum(CASE WHEN source = prev_source THEN 1 ELSE 0 END))
                       ::BIGINT AS same_adjacent,
                   (sum(CASE WHEN prev_source IS NOT NULL THEN 1 ELSE 0 END))
                       ::BIGINT AS n_adjacent
            FROM lagged
        ), exp AS (
            SELECT (sum(c * (c - 1)))::BIGINT AS same_num,
                   (sum(c))::BIGINT AS n_docs
            FROM (SELECT count(*)::BIGINT AS c FROM documents
                  GROUP BY source)
        ), z AS (
            SELECT n_docs, n_adjacent, same_adjacent,
                   CASE WHEN n_adjacent > 0
                        THEN ((same_adjacent * 1000000) // n_adjacent)
                        ELSE 0 END AS observed_same_micros,
                   ((same_num * 1000000) // (n_docs * (n_docs - 1)))
                       AS expected_same_micros
            FROM obs, exp
        )
        SELECT n_docs, n_adjacent, same_adjacent,
               observed_same_micros, expected_same_micros,
               CASE WHEN expected_same_micros > 0
                    THEN ((observed_same_micros * 1000000)
                          // expected_same_micros)
                    END AS ratio_micros
        FROM z
    """,
    doc=f"""Training-shard shuffle-quality audit: documents hash-assign
    to {_SHUFFLE_SHARDS} shards and hash-order within each shard (the
    exact layout corpus_shard_assignment feeds a trainer), then the
    rate of ADJACENT same-source pairs is compared to the expectation
    under a uniform random order (Σ n_s·(n_s−1) / (N·(N−1))).  A ratio
    near 1e6 certifies the shuffle decorrelated sources; a high ratio
    means consecutive training batches over-sample one source — the
    silent gradient-correlation bug this audit exists to catch before
    a run burns compute.  Determinism: shard and order come from the
    portable md5 hashes, adjacency from one lag window PARTITIONED by
    shard, and every rate is an exact integer floor-ratio in micros.
    Scale shape: one window keyed by shard (each partition is
    |docs|/{_SHUFFLE_SHARDS}, and a production shard count grows with
    the corpus so partitions stay bounded), one per-source grouped
    count, two 1-row aggregates combined by broadcast (declared);
    N·(N−1) exceeds int64 past ~3e9 docs — the decimal(38) variant is
    the same plan.""",
)
def shard_shuffle_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    ordered = docs.select(
        "source",
        (
            portable_hash32(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
            % _SHUFFLE_SHARDS
        ).alias("shard"),
        portable_hash64(
            F.concat(F.lit("shuf:"), F.col("doc_id").cast("string"))
        ).alias("pos_h"),
        "doc_id",
    )
    w = W.partitionBy("shard").orderBy("pos_h", "doc_id")
    lagged = ordered.select(
        "source", F.lag("source").over(w).alias("prev_source")
    )
    obs = lagged.agg(
        F.sum(
            F.when(F.col("source") == F.col("prev_source"), 1).otherwise(0)
        ).alias("same_adjacent"),
        F.sum(F.when(F.col("prev_source").isNotNull(), 1).otherwise(0)).alias(
            "n_adjacent"
        ),
    )
    exp = (
        docs.groupBy("source")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1)).alias("same_num"),
            F.sum("c").alias("n_docs"),
        )
    )
    z = obs.crossJoin(F.broadcast(exp)).select(
        "n_docs",
        "n_adjacent",
        "same_adjacent",
        F.when(
            F.col("n_adjacent") > 0,
            idiv(F.col("same_adjacent") * 1_000_000, F.col("n_adjacent")),
        )
        .otherwise(F.lit(0))
        .alias("observed_same_micros"),
        idiv(
            F.col("same_num") * 1_000_000,
            F.col("n_docs") * (F.col("n_docs") - 1),
        ).alias("expected_same_micros"),
    )
    return z.withColumn(
        "ratio_micros",
        F.when(
            F.col("expected_same_micros") > 0,
            idiv(
                F.col("observed_same_micros") * 1_000_000,
                F.col("expected_same_micros"),
            ),
        ),
    )


# --- curation decision log ---------------------------------------------------
@register(
    "curation_decision_log",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, text,
                   string_split(text, ' ') AS w,
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ({STOPLIST_SQL})))::DOUBLE
                       / len(string_split(text, ' ')) AS stop_r,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                       ::DOUBLE / length(text) AS punct_r
            FROM documents
        ), scored AS (
            SELECT doc_id, stop_r,
                   round(0.4 * least(len(w) / 100.0, 1.0)
                         + 0.3 * stop_r + 0.3 * (1 - punct_r), 6) AS quality,
                   {duckdb_hash64_sql('text')} AS h
            FROM t
        ), canon AS (
            SELECT h, min(doc_id) AS keeper FROM scored GROUP BY h
        )
        SELECT s.doc_id,
               CASE WHEN s.stop_r <= 0.05 THEN 'non_english'
                    WHEN s.quality < {QUALITY_MIN} THEN 'low_quality'
                    WHEN s.doc_id <> c.keeper THEN 'exact_dup'
                    ELSE 'kept' END AS reason,
               (s.stop_r > 0.05 AND s.quality >= {QUALITY_MIN}
                AND s.doc_id = c.keeper) AS kept,
               s.quality
        FROM scored s JOIN canon c ON s.h = c.h
        ORDER BY s.doc_id
    """,
    doc=f"""Per-document EXPLAIN of corpus_clean_pipeline: the same
    three rules, same formulas, same precedence (language filter →
    quality ≥ {QUALITY_MIN} → exact-dup canonical-keeper), emitted as
    (doc_id, first-failing-reason, kept, quality) for EVERY document —
    the audit trail a curation platform owes its data suppliers, and
    the frame quality-drift dashboards aggregate.  The kept rows
    reproduce the pipeline's output exactly (pinned by test).
    Determinism: reuses the pinned round-6 quality doubles and the
    portable 60-bit content hash; the canonical keeper is min(doc_id)
    per hash.  Scale shape: identical to the pipeline it explains —
    scan-local scoring plus ONE content-hash groupBy joined back; the
    reason CASE adds zero shuffles.""",
)
def curation_decision_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # One projection carries stop_r, the content hash AND quality
    # (round-10, session 3): the old shape scanned documents twice and
    # 1:1-self-joined the halves on doc_id.  Persisted because BOTH the
    # canonical-keeper aggregate and the decision join read it — the
    # minhash-pipeline persist pattern; one text-scoring scan total.
    scored = docs.select(
        "doc_id",
        stopword_ratio("text").alias("stop_r"),
        portable_hash64("text").alias("h"),
        quality_expr("text").alias("quality"),
    ).persist()
    canon = scored.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    s = scored.join(canon, "h")
    reason = (
        F.when(F.col("stop_r") <= 0.05, F.lit("non_english"))
        .when(F.col("quality") < QUALITY_MIN, F.lit("low_quality"))
        .when(F.col("doc_id") != F.col("keeper"), F.lit("exact_dup"))
        .otherwise(F.lit("kept"))
    )
    kept = (
        (F.col("stop_r") > 0.05)
        & (F.col("quality") >= QUALITY_MIN)
        & (F.col("doc_id") == F.col("keeper"))
    )
    return s.select(
        "doc_id", reason.alias("reason"), kept.alias("kept"), "quality"
    ).orderBy("doc_id")


# Greedy max-coverage knobs.  The hashed-bucket universe coarsens the
# n-gram space to a FIXED size: the cover relation is at most
# |sources| x COVER_BUCKETS rows no matter how large the corpus — that
# bound (not the corpus) is what the greedy rounds iterate over, which
# is the whole 100 TB story of this query.  3-grams match the corpus's
# ~40-word synthetic vocabulary (ngram_contamination_check's CONTAM_NGRAM
# rationale); production exact-substring selection would raise both.
COVER_NGRAM = 3


COVER_BUCKETS = 4096


GREEDY_ROUNDS = 4


# Max sources whose bucket sets the greedy may pull to the driver in
# one action (round-11, VERDICT-r10 item 2/5): caps the driver payload
# at CAP × COVER_BUCKETS ints regardless of |sources|; corpora
# with more sources fall back to per-round argmax collects (bounded
# per round by construction).  512 × 4096 ≈ 2M ints ≈ tens of MB of
# Python sets — comfortably inside any driver, far above any curated
# source dimension.
GREEDY_COLLECT_CAP = 512


@register(
    "temperature_sampling_plan",
    oracle="""
        WITH inv AS (
            SELECT lang,
                   sum(len(string_split(text, ' ')))::BIGINT AS lang_tokens
            FROM documents GROUP BY lang
        ), w AS (
            SELECT lang, lang_tokens,
                   floor(sqrt(lang_tokens) * 1000000)::BIGINT AS w
            FROM inv
        ), t AS (
            SELECT sum(lang_tokens)::BIGINT AS total,
                   sum(w)::BIGINT AS sw
            FROM w
        ), shares AS (
            -- BIGINT (not HUGEINT) pre-multiply ON PURPOSE: Spark
            -- computes lang_tokens * 1e6 and w * 1e6 in int64, so the
            -- oracle must carry the SAME ~9.2e12-tokens-per-language
            -- overflow bound — both engines fail symmetrically above
            -- it instead of silently diverging (round-8 ADVICE).
            SELECT lang, lang_tokens,
                   ((lang_tokens::BIGINT * 1000000) // total)::BIGINT
                       AS natural_micros,
                   ((w::BIGINT * 1000000) // sw)::BIGINT AS sample_micros
            FROM w CROSS JOIN t
        )
        SELECT lang, lang_tokens, natural_micros, sample_micros,
               CASE WHEN natural_micros > 0
                    THEN ((sample_micros::BIGINT * 1000000)
                          // natural_micros)::BIGINT
                    END AS boost_micros
        FROM shares
    """,
    doc="""Alpha-smoothed multilingual sampling plan (mT5 recipe,
    alpha = 0.5): per-language token inventory, natural share, the
    sqrt-temperature sampling rate q_lang proportional to
    sqrt(lang_tokens), and the up/down-sampling boost q/p — all in
    floor micros.  Unlike mixture_epoch_plan (whose weights are GIVEN),
    the weights here are DERIVED from the inventory by the smoothing
    exponent.  sqrt (not pow) keeps the doubles bit-identical across
    engines: IEEE-754 mandates correctly-rounded sqrt; libm pow does
    not.  Scale shape: one keyed aggregate over the corpus for the
    inventory, then |langs| rows of scalar math against a broadcast
    1-row totals frame.  The integer weight w = floor(sqrt(tokens)*1e6)
    keeps the normalizing sum ORDER-FREE (integer addition is
    associative; a sum of raw doubles is not), and w*1e6 stays below
    int64 through ~10^13 tokens per language.  Overflow contract: the
    micros pre-multiplies run in int64 on BOTH engines (the oracle
    deliberately avoids HUGEINT promotion), so above ~9.2e12 tokens in
    one language both sides raise an overflow error SYMMETRICALLY
    rather than diverging — at that inventory you re-scale _M, you
    don't paper over it.  The Spark half of that symmetry requires
    spark.sql.ansi.enabled=true (with ANSI off, Spark WRAPS int64
    silently while DuckDB raises); session.py pins it explicitly since
    round 10 so the contract survives a default flip or a deliberate
    SPARK_GRAFT_EXTRA_CONF sweep being left in place.""",
)
def temperature_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    inv = (
        docs.select("lang", F.size(tokens("text")).alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").cast("long").alias("lang_tokens"))
    )
    # Pin the |langs|-row inventory: both the report rows and the
    # totals frame hang off it, and without the checkpoint Catalyst
    # plans the totals branch as a SECOND full corpus scan+aggregate
    # (verified via explain; the banding-audit persist fix's lesson).
    w = inv.withColumn(
        "w", F.floor(F.sqrt(F.col("lang_tokens")) * 1_000_000.0).cast("long")
    ).localCheckpoint(eager=True)
    totals = w.agg(
        F.sum("lang_tokens").cast("long").alias("total"),
        F.sum("w").cast("long").alias("sw"),
    )
    natural = idiv(F.col("lang_tokens") * MICROS, F.col("total"))
    sample = idiv(F.col("w") * MICROS, F.col("sw"))
    return w.crossJoin(F.broadcast(totals)).select(
        "lang",
        "lang_tokens",
        natural.alias("natural_micros"),
        sample.alias("sample_micros"),
        F.when(natural > 0, idiv(sample * MICROS, natural)).alias(
            "boost_micros"
        ),
    )


def _greedy_oracle() -> str:
    """Unrolled GREEDY_ROUNDS-round max-coverage CTE chain (the house
    fixed-iteration oracle pattern, like the k-means/HITS unrolls).
    Round r: gains over sources not yet picked (zero-gain sources kept
    via the CASE inside count DISTINCT), argmax with lexicographic
    tiebreak, covered-set union."""
    bucket = f"({duckdb_hash64_sql('shingle')} % {COVER_BUCKETS})"
    ctes = [
        f"""shingled AS (
            SELECT source,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' '))
                                          - {COVER_NGRAM - 1}),
                       i -> array_to_string(
                           array_slice(string_split(text, ' '),
                                       i, i + {COVER_NGRAM - 1}), ' '))))
                       AS shingle
            FROM documents
        )""",
        f"""cov AS (
            SELECT DISTINCT source, {bucket} AS bucket FROM shingled
        )""",
        "u AS (SELECT count(DISTINCT bucket) AS nu FROM cov)",
        "c0 AS (SELECT bucket FROM cov WHERE false)",
        "p0 AS (SELECT source FROM cov WHERE false)",
    ]
    picks = []
    for r in range(1, GREEDY_ROUNDS + 1):
        ctes.append(
            f"""g{r} AS (
            SELECT source,
                   count(DISTINCT CASE WHEN bucket NOT IN
                           (SELECT bucket FROM c{r - 1})
                       THEN bucket END)::BIGINT AS gain
            FROM cov
            WHERE source NOT IN (SELECT source FROM p{r - 1})
            GROUP BY source
        )"""
        )
        ctes.append(
            f"s{r} AS (SELECT source, gain FROM g{r} "
            f"ORDER BY gain DESC, source LIMIT 1)"
        )
        ctes.append(
            f"p{r} AS (SELECT source FROM p{r - 1} "
            f"UNION SELECT source FROM s{r})"
        )
        ctes.append(
            f"""c{r} AS (
            SELECT bucket FROM c{r - 1}
            UNION
            SELECT DISTINCT bucket FROM cov
            WHERE source IN (SELECT source FROM s{r})
        )"""
        )
        picks.append(
            f"""SELECT {r}::BIGINT AS sel_round, source,
                   gain AS gain_buckets,
                   (SELECT count(*) FROM c{r})::BIGINT AS covered_buckets,
                   (((SELECT count(*) FROM c{r})::HUGEINT * 1000000)
                        // (SELECT nu FROM u))::BIGINT AS coverage_micros
            FROM s{r}"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(picks)


@register(
    "greedy_source_coverage",
    oracle=_greedy_oracle(),
    doc=f"""Greedy weighted max-coverage source selection over hashed
    {COVER_NGRAM}-gram buckets: {GREEDY_ROUNDS} rounds, each picking the
    source that adds the most NOT-YET-COVERED of the {COVER_BUCKETS}
    hash buckets (ties break on source name), reporting per-round gain,
    cumulative coverage, and coverage share in floor micros.  This is
    the (1-1/e) greedy for submodular coverage — the diversity-driven
    data-selection shape where a big-but-redundant source loses to a
    small-but-novel one.  Scale shape: the corpus is shingled ONCE into
    a (source, bucket) cover relation bounded by |sources| x
    {COVER_BUCKETS} rows regardless of corpus size (the bucket universe
    is the coarsening knob), collapsed map-side by a source-keyed
    collect_set; the bounded per-source bucket sets collect to the
    driver in ONE action and every greedy round is pure set arithmetic
    there (bounded-summary contract, same as the k-means centroid
    collect — the corpus-sized shingle/hash work stays
    distributed).""",
)
def greedy_source_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # The cover relation is grid-bounded at |sources| × COVER_BUCKETS
    # rows BY CONSTRUCTION regardless of corpus size (collect_set
    # subsumes the old explicit .distinct() exchange: dedup happens
    # inside the source-keyed aggregate, map-side).  The corpus-sized
    # work — shingle, hash, partial-dedup — stays distributed.
    agg = (
        shingle_sets(docs, id_col="source", n=COVER_NGRAM)
        .select("source", F.explode("shingles").alias("shingle"))
        .select(
            "source",
            (portable_hash64("shingle") % COVER_BUCKETS).alias("bucket"),
        )
        .groupBy("source")
        .agg(F.collect_set("bucket").alias("bs"))
    )
    # Round-11 (VERDICT-r10 item 2/5): the round-10 form collected the
    # per-source bucket sets UNCONDITIONALLY — O(|sources| × 4096) ints
    # on the driver, fine for a curated-dimension source column but a
    # driver OOM on an open-domain corpus with millions of sources.
    # The one-collect fast path survives behind a CONSTANT cap: a
    # parallel count of the distinct document sources (a superset of
    # the sources that own a bucket set, and no collect_set) gates the
    # collect, so the driver payload is <= CAP × 4096 ints by
    # construction.  Over the cap, fall back to the round-9 shape —
    # GREEDY_ROUNDS bounded per-round argmax collects over the
    # persisted cover relation (1-row winner + its <= 4096-bucket set
    # per round), which is constant-bounded in |sources|.  Both paths
    # emit the same report.
    rep_schema = (
        "sel_round long, source string, gain_buckets long, covered_buckets long"
    )
    if docs.select("source").distinct().count() <= GREEDY_COLLECT_CAP:
        sets = {r["source"]: set(r["bs"]) for r in agg.collect()}
        n_universe = len(set().union(*sets.values())) if sets else 0
        if n_universe == 0:
            # Degenerate corpus (no doc reaches COVER_NGRAM tokens):
            # the oracle's per-round picks are empty SELECTs, so emit
            # the same empty report instead of dividing by a zero
            # universe (round-8 ADVICE guard).
            return spark.createDataFrame([], rep_schema).withColumn(
                "coverage_micros", F.lit(None).cast("long")
            )
        # Pure-Python greedy over the collected sets: argmax by (gain
        # DESC, source ASC) — identical to the per-round Spark argmax,
        # where zero-gain sources stay candidates.
        covered: set[int] = set()
        remaining = set(sets)
        report: list[tuple[int, str, int, int]] = []
        for r in range(1, GREEDY_ROUNDS + 1):
            if not remaining:
                # Fewer sources than GREEDY_ROUNDS: the oracle's
                # round-r pick is an empty SELECT, so stop and emit the
                # shorter report (round-8 ADVICE guard).
                break
            top = min(remaining, key=lambda s: (-len(sets[s] - covered), s))
            gain = len(sets[top] - covered)
            remaining.discard(top)
            covered |= sets[top]
            report.append((r, top, gain, len(covered)))
    else:
        # |sources| > cap: per-round argmax over the (now persisted)
        # cover relation.  Each round collects ONE winner row (source,
        # gain, <= COVER_BUCKETS bucket list); the covered set rides
        # the plan as a <= COVER_BUCKETS-int literal.  Same argmax
        # order ((gain DESC, source ASC), zero-gain sources remain
        # candidates via array_except = 0) and the same report rows as
        # the fast path.  The persist is fallback-only so the common
        # path pays no cache write.
        agg = agg.persist()
        n_universe = (
            agg.select(F.explode("bs").alias("b"))
            .agg(F.countDistinct("b").alias("n"))
            .collect()[0]["n"]
        )
        covered = set()
        picked: list[str] = []
        report = []
        for r in range(1, GREEDY_ROUNDS + 1):
            cand = agg.where(~F.col("source").isin(picked)) if picked else agg
            cov_lit = F.array(
                *[F.lit(int(b)) for b in sorted(covered)]
            ).cast("array<long>")
            win = (
                cand.select(
                    "source",
                    "bs",
                    F.size(F.array_except("bs", cov_lit)).alias("gain"),
                )
                .orderBy(F.desc("gain"), F.asc("source"))
                .limit(1)
                .collect()
            )
            if not win:
                break
            top, gain = win[0]["source"], int(win[0]["gain"])
            picked.append(top)
            covered |= set(win[0]["bs"])
            report.append((r, top, gain, len(covered)))
    agg.unpersist(blocking=False)
    rep = spark.createDataFrame(report, rep_schema)
    return rep.select(
        "sel_round",
        "source",
        "gain_buckets",
        "covered_buckets",
        idiv(F.col("covered_buckets") * MICROS, F.lit(n_universe)).alias(
            "coverage_micros"
        ),
    )
