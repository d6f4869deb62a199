"""Event-analytics queries: ordered funnel and weekly cohort retention —
the classic product-analytics surface over the events stream, both pure
grouped aggregations (one shuffle keyed by user, one by cohort)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loaders import load_table
from .registry import register


@register(
    "funnel_view_click_purchase",
    oracle="""
        WITH stages AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        ),
        depth AS (
            SELECT user_id,
                   CASE
                       WHEN t_view IS NULL THEN 0
                       WHEN t_click IS NULL OR t_click < t_view THEN 1
                       WHEN t_purchase IS NULL OR t_purchase < t_click THEN 2
                       ELSE 3
                   END AS funnel_depth
            FROM stages
        )
        SELECT funnel_depth, count(*) AS n_users
        FROM depth GROUP BY funnel_depth
    """,
    doc="""Ordered funnel (view → click → purchase): per user the first
    timestamp of each stage folds into a depth score — a user only
    advances if the stages happened *in order*.  One grouped
    aggregation with conditional mins (single shuffle on user_id, fully
    partial-aggregated), then a tiny depth histogram — no self-joins,
    no window over the event log.""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    stages = events.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    depth = (
        F.when(F.col("t_view").isNull(), 0)
        .when(F.col("t_click").isNull() | (F.col("t_click") < F.col("t_view")), 1)
        .when(
            F.col("t_purchase").isNull() | (F.col("t_purchase") < F.col("t_click")), 2
        )
        .otherwise(3)
    )
    return (
        stages.select(depth.alias("funnel_depth"))
        .groupBy("funnel_depth")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "cohort_weekly_retention",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   datediff('week', f.cohort_week, date_trunc('week', e.ts))
                       AS week_offset
            FROM events e JOIN firsts f USING (user_id)
        )
        SELECT cohort_week, week_offset, count(*) AS n_active_users
        FROM activity
        GROUP BY cohort_week, week_offset
    """,
    doc="""Weekly cohort retention: users bucketed by first-seen week,
    counted once per (cohort, weeks-since-first) they were active in.
    Two keyed aggregations and one equi-join on user_id — the join's
    right side is |users| rows (already reduced), and the final matrix
    is |cohorts|×|weeks|, tiny at any scale.""",
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    firsts = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = (
        events.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    F.datediff(
                        F.to_date(F.date_trunc("week", F.col("ts"))),
                        F.col("cohort_week"),
                    )
                    / 7
                ).cast("long")
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active_users")
    )


QUALITY_MIN = 0.5


def _corpus_clean_oracle() -> str:
    # Composed from the text_lang_id / text_quality / dedup_exact oracle
    # logic — same stoplist, same formulas, same portable hash family.
    from .extension_queries import _H64, _STOPLIST_SQL

    return f"""
        WITH t AS (
            SELECT doc_id, n_chars, text,
                   string_split(text, ' ') AS w,
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ({_STOPLIST_SQL})))::DOUBLE
                       / len(string_split(text, ' ')) AS stop_r,
                   length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                       / length(text) AS punct_r
            FROM documents
        ),
        scored AS (
            SELECT doc_id, n_chars,
                   round(0.4 * least(len(w) / 100.0, 1.0)
                         + 0.3 * stop_r + 0.3 * (1 - punct_r), 6) AS quality,
                   stop_r
            FROM t
        ),
        keep AS (
            SELECT min(doc_id) AS doc_id
            FROM (SELECT doc_id, {_H64.format(e='text')} AS h FROM documents)
            GROUP BY h
        )
        SELECT s.doc_id, s.n_chars, s.quality
        FROM scored s
        JOIN keep k ON k.doc_id = s.doc_id
        WHERE s.stop_r > 0.05 AND s.quality >= {QUALITY_MIN}
    """


@register(
    "corpus_clean_pipeline",
    oracle=_corpus_clean_oracle(),
    doc="""The north-star operators composed into the canonical
    training-corpus cleaning pipeline (C4/RefinedWeb shape): language
    filter (stopword-density lang-id = 'en') → quality filter
    (heuristic score ≥ 0.5) → exact-dup removal (keep the minimum
    doc_id per content hash).  Every stage is scan-local except the
    dedup groupBy (one (hash,id) shuffle); the final semi-joins carry
    ids only.  Output = the retained corpus with its quality scores.""",
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup_groups
    from ..operators.text import lang_id, quality_score

    docs = load_table(spark, "documents", sf_dir)
    en = lang_id(docs).where(F.col("lang_guess") == "en").select("doc_id")
    good = (
        quality_score(docs)
        .where(F.col("quality") >= QUALITY_MIN)
        .select("doc_id", "quality")
    )
    keep = exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    return (
        docs.select("doc_id", "n_chars")
        .join(en, "doc_id", "left_semi")
        .join(keep, "doc_id", "left_semi")
        .join(good, "doc_id")
        .select("doc_id", "n_chars", "quality")
    )


@register(
    "resample_gapfill_daily",
    oracle="""
        WITH bounds AS (
            SELECT user_id,
                   date_trunc('day', min(ts)) AS d0,
                   date_trunc('day', max(ts)) AS d1
            FROM events WHERE user_id < 110 GROUP BY user_id
        ),
        grid AS (
            SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds
        ),
        actual AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   count(*) AS n_events, round(sum(value), 4) AS total_value
            FROM events WHERE user_id < 110 GROUP BY 1, 2
        )
        SELECT g.user_id, g.day,
               coalesce(a.n_events, 0) AS n_events,
               coalesce(a.total_value, 0.0) AS total_value
        FROM grid g LEFT JOIN actual a
          ON a.user_id = g.user_id AND a.day = g.day
    """,
    doc="""Time-series resample with gap filling: a dense per-key daily
    grid spanning each key's observed range (sequence + explode), left-
    joined to the actual per-day rollup — silent days appear as explicit
    zero rows (the SCATS shape: a detector that reported nothing in a
    window still needs a row saying so).  Grid generation is
    |keys|×|days| tiny rows from an aggregate; both joins are keyed —
    nothing scans the event log twice.""",
)
def resample_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir).where(F.col("user_id") < 110)
    day = F.date_trunc("day", F.col("ts"))
    bounds = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    actual = events.groupBy("user_id", day.alias("day")).agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value")
    )
    return (
        grid.join(actual, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "sliding_window_traffic",
    oracle="""
        SELECT ws AS window_start, count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events e
        JOIN (
            SELECT unnest(generate_series(
                TIMESTAMP '2023-12-31 23:55:00', TIMESTAMP '2024-02-01',
                INTERVAL 5 MINUTE)) AS ws
        ) w ON e.ts >= w.ws AND e.ts < w.ws + INTERVAL 10 MINUTE
        GROUP BY ws
    """,
    doc="""Sliding-window aggregation (10-minute windows every 5
    minutes): each event contributes to exactly two windows.  Spark's
    ``window(ts, size, slide)`` expands events to their windows
    in-partition (no join); the oracle reproduces the same epoch-aligned
    window grid with a range join.  The streaming twin is the same
    expression under a watermark.""",
)
def sliding_window_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("win.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "rfm_customer_segments",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS frequency,
                   round(sum(o_totalprice), 4) AS monetary
            FROM orders GROUP BY o_custkey
        )
        SELECT ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_quartile,
               ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_quartile,
               ntile(4) OVER (ORDER BY monetary, o_custkey) AS m_quartile,
               o_custkey, frequency, monetary
        FROM rfm
        QUALIFY r_quartile = 4 AND f_quartile = 4 AND m_quartile = 4
    """,
    doc="""RFM segmentation (recency/frequency/monetary quartiles via
    ntile with deterministic key tiebreaks), returning the top-segment
    customers.  One grouped aggregate to |customers| rows; the three
    quartile assignments reproduce exact SQL ntile semantics WITHOUT a
    global window (Spark single-partitions ORDER-BY-only windows):
    each dimension gets an exact hierarchical row_number
    (operators/relational.py:hierarchical_row_number — range-bucket,
    per-bucket partitioned window, driver-side offsets over 32 scalars)
    and ntile is the closed-form split of that rank
    (ntile_from_rank).  Every cluster-side stage stays partitioned at
    any customer count.""",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hierarchical_ranks, ntile_from_rank

    o = load_table(spark, "orders", sf_dir)
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    ).cache()
    ranked, n_rows = hierarchical_ranks(
        rfm,
        {
            "rn_r": (F.datediff("last_order", F.lit("1990-01-01")), "o_custkey"),
            "rn_f": (F.col("frequency"), "o_custkey"),
            "rn_m": (F.col("monetary"), "o_custkey"),
        },
    )
    seg = ranked.select(
        ntile_from_rank(F.col("rn_r"), n_rows, 4).alias("r_quartile"),
        ntile_from_rank(F.col("rn_f"), n_rows, 4).alias("f_quartile"),
        ntile_from_rank(F.col("rn_m"), n_rows, 4).alias("m_quartile"),
        "o_custkey",
        "frequency",
        "monetary",
    )
    return seg.where(
        (F.col("r_quartile") == 4) & (F.col("f_quartile") == 4) & (F.col("m_quartile") == 4)
    )


@register(
    "seasonality_dow_hour",
    oracle="""
        SELECT dayofweek(ts) AS dow, hour(ts) AS hr,
               count(*) AS n_events,
               round(avg(value), 4) AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="""Seasonality profile: event volume and mean value by
    (day-of-week × hour-of-day) — the load-shape matrix traffic
    engineering reads first (DuckDB dayofweek is 0=Sunday; Spark
    dayofweek is 1=Sunday, shifted to match).  One grouped aggregate
    into a 7×24 matrix; fully partial-aggregated.""",
)
def seasonality_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hr")
        )
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


@register(
    "event_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    """,
    doc="""First-order event-transition matrix (Markov counts): per-user
    lag over a deterministic (ts, event_id) order, then a grouped count
    of (prev → next) pairs — the sequence-analytics primitive behind
    next-action prediction and anomaly scoring.  One shuffle on
    user_id for the lag, one tiny |types|² aggregation.""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


TS_QUERY_USER = 100


@register(
    "timeseries_similarity_topk",
    oracle=f"""
        WITH grid_days AS (
            SELECT unnest(generate_series(
                DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY))::DATE AS day
        ),
        users AS (SELECT DISTINCT user_id FROM events),
        daily AS (
            SELECT user_id, date_trunc('day', ts)::DATE AS day, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        dense AS (
            SELECT u.user_id, g.day, coalesce(d.n, 0) AS n
            FROM users u CROSS JOIN grid_days g
            LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = g.day
        ),
        q AS (SELECT day, n AS qn FROM dense WHERE user_id = {TS_QUERY_USER})
        SELECT d.user_id, round(sqrt(sum((d.n - q.qn) * (d.n - q.qn))), 6) AS dist
        FROM dense d JOIN q USING (day)
        WHERE d.user_id <> {TS_QUERY_USER}
        GROUP BY d.user_id
        ORDER BY dist, user_id
        LIMIT 5
    """,
    doc="""Time-series similarity search (cf. PAPERS.md EDBT'19
    streaming-similarity line): each user's daily activity profile on a
    dense gap-filled grid, Euclidean top-5 nearest to a query user.
    The query series (|days| rows) broadcasts against the dense grid;
    distance is one grouped sum of squared diffs — the same
    grid-join shape scales to sliding-window subsequence search.""",
)
def timeseries_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import date

    events = load_table(spark, "events", sf_dir)
    grid = spark.createDataFrame(
        [(date(2024, 1, d),) for d in range(1, 31)], "day date"
    )
    users = events.select("user_id").distinct()
    daily = events.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    dense = (
        users.crossJoin(F.broadcast(grid))
        .join(daily, ["user_id", "day"], "left")
        .select("user_id", "day", F.coalesce("n", F.lit(0)).alias("n"))
    )
    q = dense.where(F.col("user_id") == TS_QUERY_USER).select(
        "day", F.col("n").alias("qn")
    )
    diff = F.col("n") - F.col("qn")
    return (
        dense.where(F.col("user_id") != TS_QUERY_USER)
        .join(F.broadcast(q), "day")
        .groupBy("user_id")
        .agg(F.round(F.sqrt(F.sum(diff * diff)), 6).alias("dist"))
        .orderBy("dist", "user_id")
        .limit(5)
    )


@register(
    "anomaly_zscore_hours",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
            FROM hourly GROUP BY event_type
        )
        SELECT h.event_type, h.hr, h.n,
               round((h.n - s.mu) / s.sigma, 4) AS zscore
        FROM hourly h JOIN stats s USING (event_type)
        WHERE abs((h.n - s.mu) / s.sigma) > 2.5
    """,
    doc="""Volume-anomaly detection: hourly event counts more than 2.5
    sample standard deviations from their type's mean — the detector
    outage / flood alarm over the SCATS count stream.  Two grouped
    aggregations + a broadcast stats join; the z-score evaluates in the
    scan stage of the (already tiny) hourly rollup.""",
)
def anomaly_zscore_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 2.5)
        .select("event_type", "hr", "n", F.round(z, 4).alias("zscore"))
    )


@register(
    "unpivot_user_metrics",
    oracle="""
        WITH wide AS (
            SELECT user_id,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS clicks,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS views,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchases
            FROM events WHERE user_id < 150 GROUP BY user_id
        )
        SELECT user_id, metric, value
        FROM wide UNPIVOT (value FOR metric IN (clicks, views, purchases))
    """,
    doc="""UNPIVOT / melt surface: per-user metric columns widened by
    conditional aggregation, then unpivoted back to (user_id, metric,
    value) long form — the inverse of the pivot query.  Spark's
    ``unpivot`` is a narrow expression expansion (no shuffle beyond the
    aggregation); zero-valued metrics stay present, unlike the sparse
    long form.""",
)
def unpivot_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir).where(F.col("user_id") < 150)

    def cnt(kind):
        return F.sum(F.when(F.col("event_type") == kind, 1).otherwise(0))

    wide = events.groupBy("user_id").agg(
        cnt("click").alias("clicks"),
        cnt("view").alias("views"),
        cnt("purchase").alias("purchases"),
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["clicks", "views", "purchases"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "regex_extract_long_words",
    oracle="""
        SELECT doc_id,
               array_to_string(regexp_extract_all(text, '[a-z]{5,}'), ' ')
                   AS long_words,
               len(regexp_extract_all(text, '[a-z]{5,}')) AS n_long_words
        FROM documents
        WHERE len(regexp_extract_all(text, '[a-z]{5,}')) > 0
    """,
    doc="""Structured extraction via regexp_extract_all: every ≥5-letter
    run per document, compared element-for-element across engines via a
    space-joined rendering (the letter-class pattern has identical
    semantics in Java regex and RE2; the join keeps the output scalar so
    driver canonicalizers that sort raw columns can hash it).  The
    extraction is codegen'd into the scan; the emptiness filter prunes
    rows before any downstream work.""",
)
def regex_extract_long_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    words = F.regexp_extract_all("text", F.lit("[a-z]{5,}"), 0)
    return (
        docs.select(
            "doc_id",
            F.array_join(words, " ").alias("long_words"),
            F.size(words).alias("n_long_words"),
        )
        .where(F.col("n_long_words") > 0)
    )


@register(
    "resample_locf_fill",
    oracle="""
        WITH grid AS (
            SELECT u.user_id, g.day
            FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 110) u
            CROSS JOIN (
                SELECT unnest(generate_series(
                    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY))::DATE
                    AS day) g
        ),
        daily AS (
            SELECT user_id, date_trunc('day', ts)::DATE AS day,
                   round(avg(value), 4) AS day_avg
            FROM events WHERE user_id < 110 GROUP BY 1, 2
        )
        SELECT g.user_id, g.day,
               last_value(d.day_avg IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_avg
        FROM grid g LEFT JOIN daily d
          ON d.user_id = g.user_id AND d.day = g.day
    """,
    doc="""LOCF gap filling (last observation carried forward): a dense
    per-user daily grid left-joined to actual daily averages, silent
    days inheriting the most recent prior value via
    last_value(... IGNORE NULLS) over an unbounded-preceding frame —
    the sensor-stream fill policy (a silent detector keeps reporting
    its last reading until data resumes).  Days before a user's first
    observation stay NULL — explicitly 'no data yet', not zero.""",
)
def resample_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import date

    from pyspark.sql import Window as W

    events = load_table(spark, "events", sf_dir).where(F.col("user_id") < 110)
    grid_days = spark.createDataFrame(
        [(date(2024, 1, d),) for d in range(1, 31)], "day date"
    )
    users = events.select("user_id").distinct()
    daily = events.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.round(F.avg("value"), 4).alias("day_avg"))
    grid = users.crossJoin(F.broadcast(grid_days))
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("day_avg", ignorenulls=True).over(w).alias("filled_avg"),
        )
    )


@register(
    "try_cast_dirty_data",
    # The integer-literal regexp guard is SYMMETRIC since round 10: the
    # SAME anchored pattern gates the cast in BOTH engines, so neither
    # engine's cast-trim quirks can diverge.  History: round 9 added
    # the guard oracle-side only (DuckDB's try_cast parses '3.5'/'1e2'
    # where Spark NULLs); round-10 ADVICE found the residual hole —
    # Spark's try_cast trims adjacent whitespace ('12\n' -> 12) that
    # the oracle guard rejects.  \A/\z anchors because Java's '$'
    # matches BEFORE a trailing newline while DuckDB/RE2's does not.
    # Overflow stays symmetric: both engines NULL an out-of-range
    # integer literal under try_cast.
    oracle=r"""
        WITH leads AS (
            SELECT source,
                   CASE WHEN regexp_matches(split_part(text, ' ', 1),
                                            '\A[+-]?[0-9]+\z')
                        THEN try_cast(split_part(text, ' ', 1) AS INTEGER)
                   END AS lead_int
            FROM documents
        )
        SELECT source,
               count(*) AS n_docs,
               count(lead_int) AS n_numeric_leads,
               count(*) - count(lead_int) AS n_unparseable
        FROM leads GROUP BY source
    """,
    doc="""Error-safe casting surface (dirty-data ingestion): TRY_CAST
    turns unparseable values into NULLs instead of failing the job, and
    count(expr) skips them — the fail-soft twin of the engine's
    fail-stop error assert (P6).  Here: how many documents lead with a
    numeric token, per source.  "Numeric" means an INTEGER literal
    (optional sign + digits, no adjacent whitespace): the same anchored
    regexp gates the cast in the Spark plan AND the DuckDB oracle, so
    the two engines' NULL sets are identical by construction — neither
    DuckDB's decimal/scientific coercion ('3.5', '1e2') nor Spark's
    whitespace-trimming cast ('12\\n') can leak through (pinned by
    test_round10_window_anchors.py).""",
)
def try_cast_dirty_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    lead = F.split("text", " ").getItem(0)
    parsed = F.when(
        lead.rlike(r"\A[+-]?[0-9]+\z"),
        F.expr("try_cast(split(text, ' ')[0] AS INT)"),
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(parsed).alias("n_numeric_leads"),
        (F.count("*") - F.count(parsed)).alias("n_unparseable"),
    )


def _pagerank_oracle(iterations: int = 3, d: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank (same recurrence as
    operators/graph.py:pagerank, sink-leak semantics included)."""
    iters = []
    for k in range(1, iterations + 1):
        iters.append(f"""
        r{k} AS (
            SELECT n.node,
                   (1 - {d}) / (SELECT count(*) FROM nodes)
                   + {d} * coalesce(sum(p.rank * e.wn), 0) AS rank
            FROM nodes n
            LEFT JOIN nrm e ON e.v = n.node
            LEFT JOIN r{k - 1} p ON p.node = e.u
            GROUP BY n.node
        )""")
    return f"""
        WITH edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst, count(*)::DOUBLE AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation cn ON cn.n_nationkey = c.c_nationkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nrm AS (
            SELECT src AS u, dst AS v,
                   w / sum(w) OVER (PARTITION BY src) AS wn
            FROM edges
        ),
        r0 AS (
            SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS rank FROM nodes
        ),{','.join(iters)}
        SELECT node, round(rank, 6) AS rank FROM r{iterations}
    """


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-level trade graph (customer nation → supplier nation,
    edge weight = line count) — shared by the classic and personalized
    PageRank queries."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("s_nk"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
        .cache()
    )


@register(
    "pagerank_nation_trade",
    oracle=_pagerank_oracle(),
    doc="""Weighted PageRank (3 fixed iterations, damping 0.85) over the
    nation-level trade graph (customer nation → supplier nation, edge
    weight = line count) via the generic operators/graph.py:pagerank.
    The iterative family beyond connected components: each round is one
    keyed join + one grouped sum — Pregel superstep shape, no driver
    data movement; the oracle unrolls the identical recurrence so the
    contract is exact (round-6).  The demo graph is 25 nodes; the
    operator is agnostic to edge-frame size (normalize once, iterate
    with keyed shuffles).""",
)
def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    edges = _trade_edges(spark, sf_dir)
    ranks = pagerank(edges, iterations=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# Personalized-PageRank seed set: 4 seeds so the teleport mass 1/|S| =
# 0.25 is binary-exact in both engines (1/3 would put a repeating
# fraction inside the cross-engine FP contract).
PPR_SEEDS = ("NATION_0", "NATION_7", "NATION_13", "NATION_21")


def _ppr_oracle(iterations: int = 3, d: float = 0.85) -> str:
    """Unrolled personalized PageRank — the :func:`_pagerank_oracle`
    recurrence with the uniform base term replaced by the seed-set
    teleport distribution (rank_0 = tele)."""
    seed_values = ", ".join(f"('{s}')" for s in PPR_SEEDS)
    iters = []
    for k in range(1, iterations + 1):
        iters.append(f"""
        r{k} AS (
            SELECT t.node,
                   (1 - {d}) * t.tl
                   + {d} * coalesce(sum(p.rank * e.wn), 0) AS rank
            FROM tele t
            LEFT JOIN nrm e ON e.v = t.node
            LEFT JOIN r{k - 1} p ON p.node = e.u
            GROUP BY t.node, t.tl
        )""")
    return f"""
        WITH edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst, count(*)::DOUBLE AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation cn ON cn.n_nationkey = c.c_nationkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            GROUP BY 1, 2
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nrm AS (
            SELECT src AS u, dst AS v,
                   w / sum(w) OVER (PARTITION BY src) AS wn
            FROM edges
        ),
        seeds AS (SELECT node FROM (VALUES {seed_values}) t(node)),
        tele AS (
            SELECT n.node,
                   CASE WHEN s.node IS NOT NULL
                        THEN 1.0 / (SELECT count(*) FROM seeds)
                        ELSE 0.0 END AS tl
            FROM nodes n LEFT JOIN seeds s ON s.node = n.node
        ),
        r0 AS (SELECT node, tl AS rank FROM tele),{','.join(iters)}
        SELECT node, round(rank, 6) AS rank FROM r{iterations}
    """


@register(
    "ppr_nation_trade_seeds",
    oracle=_ppr_oracle(),
    doc=f"""Personalized PageRank (3 fixed iterations, damping 0.85,
    teleport restricted to the {len(PPR_SEEDS)}-nation seed set) over
    the nation trade graph — proximity-to-seed-neighborhood scores,
    the recommender/affinity variant of the classic rank (seed = a
    user's items at 100 TB; here a fixed nation set so the contract is
    deterministic).  Same Pregel-superstep shape as
    ``pagerank_nation_trade`` (one keyed join + one grouped sum per
    round, node-sized teleport frame riding the same join); the seed
    count divides to a binary-exact 0.25 teleport mass, and the oracle
    unrolls the identical recurrence.""",
)
def ppr_nation_trade_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_personalized

    edges = _trade_edges(spark, sf_dir)
    seeds = spark.createDataFrame([(s,) for s in PPR_SEEDS], "node string")
    ranks = pagerank_personalized(edges, seeds, iterations=3)
    return ranks.select("node", F.round("rank", 6).alias("rank"))
