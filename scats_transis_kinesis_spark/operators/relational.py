"""Relational operators the reference lacks (SURVEY.md §2.7), built as
reusable DataFrame compositions.

Spark has no native as-of join or sessionization operator; both are
expressed here as compositions of built-ins (union + window frames),
which keeps them inside Catalyst/Tungsten — no pandas fallback, one
shuffle each, scale-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` (``direction="backward"``) or the earliest
    right row with ``right.ts >= left.ts`` (``direction="forward"``)
    for the same key.

    Implemented as the union-of-streams trick: tag both sides, sort each
    key's rows by (ts, side) in one window pass, and carry the nearest
    right values across with ``last``/``first(..., ignorenulls=True)``
    over a preceding/following frame.  Cost: a single shuffle on the key
    + an in-partition sort — contrast with a naive range join which is
    O(n·m) per key.  At equal timestamps the right row sorts inside the
    frame, so equality matches in both directions (ASOF semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    l_cols = left.columns
    tagged_r = right.select(
        F.col(on).alias(on),
        F.col(right_ts).alias("_ts"),
        F.lit(1).alias("_is_right"),
        *[F.col(c).alias(f"_r_{c}") for c in right_value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_cols if c != on],
    )
    tagged_l = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(0).alias("_is_right"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_value_cols],
        *[F.col(c) for c in l_cols if c != on],
    )
    unioned = tagged_r.unionByName(tagged_l)
    if direction == "backward":
        # Right row first at equal ts; frame looks back.
        w = (
            W.partitionBy(on)
            .orderBy(F.col("_ts").asc(), F.col("_is_right").desc())
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        pick = F.last
    else:
        # Left row first at equal ts; frame looks forward.
        w = (
            W.partitionBy(on)
            .orderBy(F.col("_ts").asc(), F.col("_is_right").asc())
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        pick = F.first
    filled = unioned.select(
        "*",
        *[
            pick(F.col(f"_r_{c}"), ignorenulls=True).over(w).alias(f"_asof_{c}")
            for c in right_value_cols
        ],
    )
    return (
        filled.where(F.col("_is_right") == 0)
        .select(
            F.col(on),
            *[F.col(c) for c in l_cols if c != on],
            *[F.col(f"_asof_{c}").alias(f"asof_{c}") for c in right_value_cols],
        )
    )


def sessionize(
    df: DataFrame, key: str, ts: str, gap_minutes: int = 30
) -> DataFrame:
    """Assign session ids per key: a new session starts when the gap to
    the previous event exceeds ``gap_minutes``.

    One shuffle on the key; the lag + running-sum both reuse the same
    window sort.  (Streaming twin: ``session_window`` in
    streaming/pipeline.py.)
    """
    w = W.partitionBy(key).orderBy(ts)
    # Compare exact times (either timestamp type): unix_timestamp would
    # truncate to whole seconds, so a 1800.5 s gap would not split.
    gap = F.expr(f"INTERVAL {gap_minutes} MINUTES")
    is_new = (
        F.when(F.lag(ts).over(w).isNull(), 1)
        .when(F.col(ts) > F.lag(ts).over(w) + gap, 1)
        .otherwise(0)
    )
    return df.withColumn("session_seq", F.sum(is_new).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ))


def top_k_per_group(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    k: int,
    skew_safe: bool = False,
) -> DataFrame:
    """Top-k rows per group via row_number.  ``order`` must include a
    deterministic tiebreaker.

    ``skew_safe=True`` adds a per-input-partition partial top-k before
    the group window (the TakeOrderedAndProject idea applied per
    group): row_number over (input partition, group) keeps at most k
    rows per group per partition, so a hot group — 50% of a 100 TB
    fact on one key — enters the final window with at most
    k×num_partitions rows instead of half the table in a single task.
    The union of per-partition top-k is a superset of the global
    top-k, so results are identical; the cost is one extra balanced
    exchange, which is why it is opt-in for uniformly-distributed
    inputs."""
    w = W.partitionBy(*keys).orderBy(*order)
    if skew_safe:
        # materialized pid column: Window specs reject nondeterministic
        # expressions, a projected column is fine
        pw = W.partitionBy("_pid", *keys).orderBy(*order)
        df = (
            df.withColumn("_pid", F.spark_partition_id())
            .withColumn("_prn", F.row_number().over(pw))
            .where(F.col("_prn") <= k)
            .drop("_pid", "_prn")
        )
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_on: list[str],
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the fact side gets a deterministic salt in
    [0, buckets) hashed from ``salt_on`` (columns that distinguish rows
    WITHIN a key — an event id, a timestamp — never the key itself),
    the dim side is exploded ``buckets``× so every (key, salt) pair
    exists, and the join runs on the composite key.  A hot key's rows
    spread over ``buckets`` shuffle partitions instead of one.  Purely
    a physical strategy: the result equals the plain join row-for-row.
    (AQE's skew-join split handles moderate skew on sort-merge joins;
    explicit salting is the tool for pathological single-key hotspots
    and for joins AQE won't split.)

    Only ``inner`` and ``left`` (fact-preserving) joins are supported:
    an outer side that PRESERVES the exploded dim would emit every
    unmatched dim row ``buckets`` times, breaking the row-for-row
    guarantee."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "right/full joins would duplicate unmatched dim rows "
            f"{buckets}x (one per salt replica)"
        )
    for frame, name in ((fact, "fact"), (dim, "dim")):
        for helper in ("_salt", "_dim_key"):
            if helper in frame.columns:
                raise ValueError(
                    f"salted_join: the {name} side already has a "
                    f"'{helper}' column — rename it first (the operator "
                    "uses that name internally)"
                )
    sf = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*salt_on), F.lit(buckets)).cast("int")
    )
    # The dim key is renamed internally so that when fact_key ==
    # dim_key the output keeps exactly ONE key column (a
    # boolean-condition join would keep both same-named columns and
    # make every downstream reference AMBIGUOUS_REFERENCE — the plain
    # `join(dim, on=key)` this operator substitutes for coalesces
    # them); with distinct names the dim key is restored, matching the
    # plain join's shape.
    sd = dim.withColumnRenamed(dim_key, "_dim_key").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    joined = sf.join(
        sd,
        (sf[fact_key] == sd["_dim_key"]) & (sf["_salt"] == sd["_salt"]),
        how,
    ).drop("_salt")
    if dim_key == fact_key:
        return joined.drop("_dim_key")
    return joined.withColumnRenamed("_dim_key", dim_key)


def upsert(base: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Merge a change set into a base snapshot: a change row replaces
    the base row with its key; unmatched change rows insert.  The
    reference's topology-delta pull (getTopologyChangesFromDate,
    reference: transis_consumer.py:157-164) exists precisely to be
    applied to the topology snapshot like this.

    Schema-generic: union + per-key keep-latest (change wins) — one
    shuffle on the key, no per-column coalesce list to maintain.  On a
    lakehouse table format this maps to MERGE INTO; the plan shape
    (shuffle on key, latest-wins) is identical."""
    from pyspark.sql import Window as W

    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        changes.withColumn("_src", F.lit(1))
    )
    w = W.partitionBy(key).orderBy(F.desc("_src"))
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )


def hierarchical_row_number(
    df: DataFrame,
    order_numeric: Column,
    tiebreak: str,
    out: str = "rn",
    num_buckets: int = 32,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order_numeric, tiebreak)``
    WITHOUT an unpartitioned window (Spark single-partitions those).

    Hierarchical scheme (same summary-collect pattern as
    ``RDD.zipWithIndex``): rows are range-bucketed by an equi-width split
    of ``order_numeric`` (order-preserving, so bucket order == sort
    order), row_number runs PER BUCKET (bounded partitions), and only
    the per-bucket counts — ``num_buckets`` scalars — go to the driver
    to become cumulative offsets that broadcast-join back.  Every
    cluster-side stage stays partitioned; correct for any bucket
    balance.  ``order_numeric`` must be numeric (cast dates via
    datediff first); ties within a value share a bucket, so the
    per-bucket ``ORDER BY (order_numeric, tiebreak)`` resolves them
    exactly as a global sort would.
    """
    lo, hi = df.agg(
        F.min(order_numeric).cast("double"), F.max(order_numeric).cast("double")
    ).first()
    if lo is None or hi == lo:
        # Degenerate: every order value ties (e.g. a bounded top-k cut
        # whose gains are all equal).  A constant bucket would fold
        # into an UNPARTITIONED window — the exact plan shape this
        # helper exists to avoid — so the global order (which now
        # reduces to the tiebreak) re-buckets on the tiebreak: numeric
        # tiebreaks recurse with the tiebreak as the bucketing order;
        # non-numeric ones bucket by the first character's codepoint
        # (order-preserving under Spark's binary string order — UTF-8
        # byte order equals codepoint order).  A fully-constant frame
        # keeps the codepoint bucket: constant-VALUED but
        # column-derived, so the window stays partitioned in the plan.
        from pyspark.sql.types import NumericType

        tb_numeric = isinstance(df.schema[tiebreak].dataType, NumericType)
        if lo is not None and tb_numeric and num_buckets > 0:
            # num_buckets=0 marks the recursive call so a tied
            # tiebreak cannot recurse forever.
            return hierarchical_row_number(
                df.withColumn("_hrn_tb", F.col(tiebreak).cast("double")),
                F.col("_hrn_tb"),
                tiebreak,
                out=out,
                num_buckets=0,
            ).drop("_hrn_tb")
        bucket = F.ascii(
            F.substring(F.col(tiebreak).cast("string"), 1, 1)
        ).cast("long")
    else:
        num_buckets = num_buckets or 32
        width = (float(hi) - float(lo)) / num_buckets
        bucket = F.least(
            F.greatest(
                F.floor((order_numeric.cast("double") - float(lo)) / width),
                F.lit(0),
            ),
            F.lit(num_buckets - 1),
        )
    t = df.withColumn("_hrn_bucket", bucket)
    counts = sorted(
        (int(r["_hrn_bucket"]), int(r["count"]))
        for r in t.groupBy("_hrn_bucket").count().collect()
    )
    running, offsets = 0, []
    for b, c in counts:
        offsets.append((b, running))
        running += c
    off = df.sparkSession.createDataFrame(
        offsets, "_hrn_bucket long, _hrn_offset long"
    )
    w = W.partitionBy("_hrn_bucket").orderBy(order_numeric, tiebreak)
    return (
        t.withColumn("_hrn_local", F.row_number().over(w))
        .join(F.broadcast(off), "_hrn_bucket")
        .withColumn(out, F.col("_hrn_local") + F.col("_hrn_offset"))
        .drop("_hrn_bucket", "_hrn_local", "_hrn_offset")
    )


def ntile_from_rank(rn: Column, n_rows: int, n_tiles: int) -> Column:
    """SQL ``ntile(n_tiles)`` reproduced from an exact global rank: the
    first ``n_rows % n_tiles`` tiles get ``n_rows // n_tiles + 1`` rows,
    the rest one fewer — the standard-SQL split, computed closed-form
    from scalars so no window is needed."""
    s, r = divmod(int(n_rows), int(n_tiles))
    if s == 0:
        return rn.cast("int")
    big = r * (s + 1)
    return (
        F.when(rn <= big, F.ceil(rn / (s + 1)))
        .otherwise(r + F.ceil((rn - big) / s))
        .cast("int")
    )


def hierarchical_ranks(
    df: DataFrame,
    dims: dict[str, tuple[Column, str]],
    num_buckets: int = 32,
) -> tuple[DataFrame, int]:
    """Exact global row_number for SEVERAL orderings in two summary jobs
    total (vs two per dimension for repeated
    :func:`hierarchical_row_number` calls — at 100 TB that is one scan
    for all bounds and one for all bucket counts instead of 2×|dims|).

    ``dims`` maps output column name -> (numeric order expression,
    tiebreak column).  Returns (df + one rank column per dim, n_rows).
    """
    bounds_exprs = []
    for out, (expr, _) in dims.items():
        bounds_exprs += [
            F.min(expr).cast("double").alias(f"lo_{out}"),
            F.max(expr).cast("double").alias(f"hi_{out}"),
        ]
    b = df.agg(*bounds_exprs).first()

    t = df
    bucket_cols = {}
    for out, (expr, _) in dims.items():
        lo, hi = b[f"lo_{out}"], b[f"hi_{out}"]
        if lo is None or hi == lo:
            bucket = F.lit(0)
        else:
            width = (float(hi) - float(lo)) / num_buckets
            bucket = F.least(
                F.greatest(F.floor((expr.cast("double") - float(lo)) / width), F.lit(0)),
                F.lit(num_buckets - 1),
            )
        bucket_cols[out] = f"_hr_b_{out}"
        t = t.withColumn(bucket_cols[out], bucket)

    # One combined counts job: explode (dim, bucket) pairs, one grouped
    # aggregate, |dims|*num_buckets scalar rows back to the driver.
    pairs = F.explode(
        F.array(
            *[
                F.struct(F.lit(out).alias("dim"), F.col(c).alias("bucket"))
                for out, c in bucket_cols.items()
            ]
        )
    ).alias("db")
    counts = (
        t.select(pairs)
        .groupBy("db.dim", "db.bucket")
        .count()
        .collect()
    )
    n_rows = sum(int(r["count"]) for r in counts) // len(dims)

    per_dim: dict[str, list[tuple[int, int]]] = {out: [] for out in dims}
    for r in counts:
        per_dim[r["dim"]].append((int(r["bucket"]), int(r["count"])))
    for out, (expr, tiebreak) in dims.items():
        running, offsets = 0, []
        for bucket, c in sorted(per_dim[out]):
            offsets.append((bucket, running))
            running += c
        off = df.sparkSession.createDataFrame(
            offsets, f"{bucket_cols[out]} long, _hr_off_{out} long"
        )
        w = W.partitionBy(bucket_cols[out]).orderBy(expr, tiebreak)
        t = (
            t.withColumn(f"_hr_loc_{out}", F.row_number().over(w))
            .join(F.broadcast(off), bucket_cols[out])
            .withColumn(out, F.col(f"_hr_loc_{out}") + F.col(f"_hr_off_{out}"))
            .drop(bucket_cols[out], f"_hr_loc_{out}", f"_hr_off_{out}")
        )
    return t, n_rows


def skyline_2d(
    df: DataFrame,
    order_col: str,
    value_col: str,
    bucket_col: str,
) -> DataFrame:
    """2-D skyline (Pareto frontier): rows not dominated by any row
    with strictly smaller ``order_col`` AND strictly larger
    ``value_col`` (Börzsönyi et al.'s SKYLINE OF).

    ``bucket_col`` must be a coarser monotone function of ``order_col``
    (every value in a lower bucket strictly precedes every value in a
    higher one — e.g. month buckets over day numbers).  The distributed
    sweep then needs no self-join and no global window:

    - per-bucket max of ``value_col`` is a grouped aggregate whose
      |buckets| rows collect to the driver (bounded by construction,
      the pack_context_windows pattern) for an EXCLUSIVE running max
      that broadcast-joins back;
    - the strictly-earlier max WITHIN a bucket comes from a window
      partitioned by bucket with a RANGE frame ending 1 before the
      current ``order_col``.

    A row survives iff neither max strictly exceeds its value.  Two
    keyed shuffles + one bounded collect; survives any column
    distribution because the window never sees more than one bucket.

    Preconditions: ``order_col`` must be INTEGER-valued (the RANGE
    frame ends 1 before the current value — fractional order keys in
    (cur-1, cur) would silently escape domination; use day numbers /
    epoch seconds, not raw timestamps or floats); ``bucket_col`` must
    be integral and ``value_col`` numeric (both are normalized to
    long/double internally)."""
    from pyspark.sql import Window as W

    t = df
    # Normalize driver-side values so the broadcast frame's schema works
    # for int/Decimal value columns and any integral bucket type.
    per_bucket = []
    for r in (
        t.groupBy(bucket_col)
        .agg(F.max(F.col(value_col).cast("double")).alias("mx"))
        .collect()
    ):
        if r[0] is None or r[1] is None:
            raise ValueError(
                f"skyline_2d: NULL in '{bucket_col if r[0] is None else value_col}'"
                " — the sweep needs non-null bucket and value columns; "
                "filter or impute first"
            )
        per_bucket.append((int(r[0]), float(r[1])))
    running, prefix = None, []
    for b, mx in sorted(per_bucket, key=lambda kv: kv[0]):
        prefix.append((b, running))
        running = mx if running is None else max(running, mx)
    prev_max = t.sparkSession.createDataFrame(
        prefix, f"{bucket_col} long, _prev_bucket_max double"
    )
    win = (
        W.partitionBy(bucket_col)
        .orderBy(F.col(order_col))
        .rangeBetween(W.unboundedPreceding, -1)
    )
    scored = t.join(F.broadcast(prev_max), bucket_col).withColumn(
        "_earlier_max",
        F.greatest(F.max(value_col).over(win), F.col("_prev_bucket_max")),
    )
    return scored.where(
        F.col("_earlier_max").isNull()
        | (F.col("_earlier_max") <= F.col(value_col))
    ).drop("_earlier_max", "_prev_bucket_max")


def bucketed_prefix_sums(
    df: DataFrame,
    bucket_col: str,
    order_by: list,
    sums: dict[str, str],
    row_index: str | None = None,
) -> DataFrame:
    """Exact global running totals over ``order_by`` (and optionally the
    global row index) WITHOUT an unpartitioned window — the cumulative-
    sum sibling of :func:`hierarchical_row_number`, shared by the CDF /
    CUSUM family.

    Caller contract: ``bucket_col`` holds integer bucket ids whose
    numeric order agrees with the global ``order_by`` order across
    buckets (range bucketing — e.g. ``year(day)`` for a date ordering,
    or an equi-width split of the order column).  The running sum runs
    PER BUCKET (bounded, partitioned window); only the per-bucket
    totals — |buckets| scalars per summed column — reach the driver to
    become cumulative offsets that broadcast-join back.  Every
    cluster-side stage stays partitioned, same as a 1000-executor
    prefix-scan would run it.

    ``sums`` maps source column -> output running-total column; sources
    must be integral (the offsets ride a ``long`` frame so the
    cross-engine totals stay exact integer math).
    """
    srcs = list(sums)
    aggs = [F.count("*").alias("_bps_n")] + [
        F.sum(s).cast("long").alias(f"_bps_{i}") for i, s in enumerate(srcs)
    ]
    per_bucket = sorted(
        (int(r[bucket_col]), r) for r in df.groupBy(bucket_col).agg(*aggs).collect()
    )
    run_n, run = 0, [0] * len(srcs)
    offsets = []
    for b, r in per_bucket:
        offsets.append((b, run_n, *run))
        run_n += int(r["_bps_n"])
        run = [run[i] + int(r[f"_bps_{i}"]) for i in range(len(srcs))]
    schema = f"{bucket_col} long, _bps_off_n long" + "".join(
        f", _bps_off_{i} long" for i in range(len(srcs))
    )
    off = df.sparkSession.createDataFrame(offsets, schema)
    w = W.partitionBy(bucket_col).orderBy(*order_by)
    out = df.withColumn(bucket_col, F.col(bucket_col).cast("long")).join(
        F.broadcast(off), bucket_col
    )
    for i, s in enumerate(srcs):
        out = out.withColumn(
            sums[s],
            (F.sum(s).over(w) + F.col(f"_bps_off_{i}")).cast("long"),
        )
    if row_index is not None:
        out = out.withColumn(
            row_index,
            (F.row_number().over(w) + F.col("_bps_off_n")).cast("long"),
        )
    return out.drop("_bps_off_n", *[f"_bps_off_{i}" for i in range(len(srcs))])


# A pair key packs two ids into one long (u in the high 32 bits), so a
# pair shuffles and joins as ONE column instead of two.  It is exact only
# for ids in [0, 2^31): anything else would alias another pair, so
# pack_pair fails the job instead of returning wrong rows.
PAIR_ID_LIMIT = 1 << 31


def pack_pair(u: str, v: str) -> Column:
    """``(u << 32) + v`` over the id columns ``u`` and ``v``.  A row with
    either id outside [0, 2^31) raises an error naming both columns; a
    null id packs to null."""
    cu, cv = F.col(u).cast("long"), F.col(v).cast("long")
    outside = (cu < 0) | (cu >= PAIR_ID_LIMIT) | (cv < 0) | (cv >= PAIR_ID_LIMIT)
    return F.when(
        outside,
        F.raise_error(F.lit(f"pack_pair: {u} or {v} outside [0, 2^31)")),
    ).otherwise(F.shiftleft(cu, 32) + cv)


def unpack_pair(key: str) -> tuple[Column, Column]:
    """The ``(u, v)`` columns of a :func:`pack_pair` key."""
    k = F.col(key)
    return F.shiftright(k, 32), k.bitwiseAND(F.lit((1 << 32) - 1))


def idiv(num: Column | int, den: Column | int) -> Column:
    """Exact integer division ``num div den``, truncating toward zero.

    Spark's ``div`` keeps the whole computation in int64 (or decimal), so
    the quotient is exact for every long; division by zero raises under
    ANSI.  Both operands must be integral or decimal: a double operand is
    an analysis error, so cast it explicitly first."""
    return F.call_function("div", F.lit(num), F.lit(den))


# Scale of the floor-micros ratio contracts (``idiv(x * MICROS, n)``).
# Plain int (not F.lit): module import must not require an active
# SparkContext; Column arithmetic lifts it.
MICROS = 1_000_000
