"""Iterative ML on the engine: Lloyd's k-means over an embedding
column, written as a deterministic cross-engine contract.

Each iteration is (assign → update):

- **assign**: an Arrow-batched numpy projection (``mapInPandas``, guide
  §4.2/§4.5 shape): per batch, the squared-euclidean distance to each
  of the k broadcast-in-closure centroids is accumulated dimension by
  dimension in float64 — the SAME IEEE operation sequence as the
  previous ``zip_with`` left fold and as the oracle's ``list_reduce``
  — then ROUNDED to 6 decimals with an exact emulation of Spark's
  ``round`` (``_round6_half_up``), argmin with first-match (= smallest
  cid) tiebreak.  No join, no row blowup, no shuffle; the interpreted
  higher-order-function fold this replaces cost ~0.8 s per scan at a
  2,000-row corpus (k=16·dim=64 lambda steps per row) vs ~0.1 s
  vectorized.
- **update**: per-dimension ``avg`` grouped by cluster (pure DataFrame
  agg — partial-aggregated map-side), ROUNDED to 6 before feeding the
  next iteration.

The rounding is what makes an iterative FP algorithm hash-checkable
against another engine: both engines agree on every rounded
intermediate, so divergence cannot compound across iterations (same
trick as the approx_distinct bounded-error contract).  Clusters that
receive no members drop out (both engines agree on that too).

Scale shape: the data-sized stages are one narrow Arrow projection and
one groupBy per iteration; the driver only ever sees k·dim scalars per
round (the same footprint as ``RDD.zipWithIndex``'s summary collect).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SIX_PLACES = Decimal("0.000001")


def _round6_half_up(v: float) -> float:
    """Exact emulation of Spark's ``round(double, 6)``: Java's
    ``BigDecimal.valueOf(v)`` parses ``Double.toString(v)`` — the
    shortest round-trip decimal, which is exactly Python's ``repr`` —
    then ``setScale(6, HALF_UP)`` and back to double (correctly rounded
    decimal->binary on both VMs).  Two Java quirks replicated: NaN/Inf
    pass through unrounded, and BigDecimal has no signed zero, so -0.0
    inputs/results surface as +0.0."""
    if not math.isfinite(v):
        return v
    f = float(Decimal(repr(v)).quantize(_SIX_PLACES, rounding=ROUND_HALF_UP))
    return 0.0 if f == 0.0 else f


def _round6_half_up_arr(a):
    """Vectorized :func:`_round6_half_up` over a float64 numpy array —
    bit-identical by construction (round-11; the per-value
    ``Decimal(repr(v))`` loop was the dominant cost of every Arrow
    assignment kernel: ~0.09 s per 32k values vs ~2 ms vectorized).

    Fast path: HALF_UP on the scaled value is ``sign · floor(|v·1e6|)
    (+1 if frac >= 0.5)``, and ``m / 1e6`` is IEEE-correctly rounded to
    the nearest double of the exact decimal ``m·10⁻⁶`` — the same
    double ``float(Decimal)`` produces — whenever the integer ``m`` is
    exact, i.e. ``|v·1e6| < 2^52``.  The fast path can only disagree
    with the exact path when the true decimal target (``repr``'s
    shortest decimal, within ulp/2 of ``v``) sits on the other side of
    a half boundary than the computed ``v*1e6`` (relative error
    ≤ 2^-52 combined); every value whose scaled fractional part lies
    within ``|s|·2^-50 + 1e-300`` of 0.5 — a superset of the
    ambiguous band — falls back to the per-value Decimal emulation.
    Ties are detectable exactly, so bit-identity holds for EVERY
    input (property-tested over generated half-boundary values in
    tests/test_round6_vectorized.py).  NaN/±Inf pass through; -0.0
    results normalize to +0.0 (the BigDecimal quirk)."""
    import numpy as np

    out = np.array(a, dtype=np.float64, copy=True)
    finite = np.isfinite(out)
    v = out[finite]
    if v.size:
        s = v * 1e6
        av = np.abs(s)
        fl = np.floor(av)
        frac = av - fl
        m = np.copysign(np.where(frac >= 0.5, fl + 1.0, fl), s)
        res = m / 1e6
        unsafe = (np.abs(frac - 0.5) <= (av * 2.0**-50 + 1e-300)) | (
            av >= 2.0**52
        )
        if unsafe.any():
            idx = np.nonzero(unsafe)[0]
            res[idx] = [_round6_half_up(float(x)) for x in v[idx]]
        res[res == 0.0] = 0.0
        out[finite] = res
    return out


def _sql_double(x: float) -> str:
    """A SQL literal that parses back to EXACTLY the same IEEE double.

    ``repr(float)`` is the shortest decimal string that round-trips in
    Python; Spark's parser (Java ``Double.parseDouble`` semantics via
    the correctly-rounded decimal->binary conversion both JVMs share)
    recovers the identical bit pattern, so inlining centroids through
    SQL text instead of ``F.lit`` changes NOTHING about the arithmetic.
    The CAST keeps plain decimals (which Spark would otherwise parse as
    DECIMAL) on the double path; it constant-folds at analysis.

    Why SQL text at all: building a k*dim literal tree out of
    ``F.lit``/``F.array`` calls costs one py4j round-trip PER SCALAR —
    measured ~1.3 s of pure driver time per Lloyd iteration at
    k=16/dim=64 — while one ``F.expr`` string is a single round-trip.
    """
    if not math.isfinite(x):
        raise ValueError(f"non-finite centroid coordinate: {x!r}")
    return f"CAST({x!r} AS DOUBLE)"


def _sql_vec(vals: list[float]) -> str:
    return "array(" + ", ".join(_sql_double(float(x)) for x in vals) + ")"


def _dist6_sql(vec_col: str, pick: list[float]) -> Column:
    """Rounded-6 left-fold squared euclidean distance to a fixed point —
    the SAME expression tree as the previous ``F.zip_with``/
    ``F.aggregate`` builder (identical fold order, seed and rounding),
    constructed in one py4j call."""
    return F.expr(
        f"round(aggregate(zip_with(`{vec_col}`, {_sql_vec(pick)}, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x), 6)"
    )


def _rounded_dists(x, cmat, dim: int):
    """The rounded-6 squared-euclidean distance matrix shared by the
    assignment and update kernels: distances accumulate dimension by
    dimension in float64 — ``acc = acc + (x_i - c_i)²`` vectorized
    across rows is the SAME left-to-right IEEE fold per row the
    zip_with form evaluated — then round via the exact
    ``_round6_half_up_arr`` emulation."""
    import numpy as np

    n = len(x)
    dists = np.empty((n, cmat.shape[0]), dtype=np.float64)
    for j in range(cmat.shape[0]):
        acc = np.zeros(n, dtype=np.float64)
        for i in range(dim):
            d = x[:, i] - cmat[j, i]
            acc = acc + d * d
        dists[:, j] = _round6_half_up_arr(acc)
    return dists


def _assign_batches(
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    dim: int,
):
    """The Arrow-batched argmin-over-centroids assignment (guide §4.2):
    per batch, the rounded-6 distance matrix (see
    :func:`_rounded_dists`), then ``np.argmin`` — which returns the
    FIRST minimum, and the centroid columns are ordered by ascending
    cid, so ties break to the smallest cid exactly like ``array_min``
    over (dist, cid) structs.  Centroids ride the closure (k·dim
    scalars); the matrix is built once per task (§4.5)."""
    import numpy as np

    cids = [cid for cid, _ in cents]
    cvals = [list(map(float, c)) for _, c in cents]

    def fn(batches):
        import pandas as pd

        cmat = np.array(cvals, dtype=np.float64)  # (k, dim)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)  # (n, dim)
            n = len(x)
            dists = _rounded_dists(x, cmat, dim)
            best = np.argmin(dists, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cid": [cids[b] for b in best],
                    "dist": dists[np.arange(n), best],
                }
            )

    return fn


def _update_batches(
    cents: list[tuple[int, list[float]]],
    vec_col: str,
    dim: int,
):
    """The centroid-UPDATE kernel (round-11, guide §2.3 "aggregate
    before you shuffle" / §5 bounded driver summaries): per Arrow
    batch, assign via the SAME rounded-6 distance matrix + first-min
    argmin as :func:`_assign_batches`, then emit only the per-cluster
    partial ``(cid, n, s0..s{dim-1})`` sufficient statistics — ≤ k rows
    per batch instead of the full per-row assignment.  An update round
    therefore ships k·(dim+2) scalars out of Python instead of the
    whole corpus, and the downstream aggregate is over per-batch
    partials, not rows.

    The partials ride ONE array column ``w = [n, s0..s{dim-1}]`` (the
    count is exact as a double up to 2^53) — a 2-column plan.  The
    first cut emitted dim+2 flat columns and lost the kernel's win to
    per-round query planning: each training round builds a NEW plan
    (fresh closure), and planning/codegen for the 66-column
    mapInPandas + 65-buffer aggregate + 64-expression projection cost
    1.5–3 s per round (measured; the executed job itself was 0.2 s).

    FP contract: the per-dimension sums accumulate in ROW ORDER within
    the batch (``np.add.accumulate`` is defined sequentially) — exactly
    the order Spark's ``avg`` partial aggregation adds rows within a
    partition — and cross-batch/cross-partition partials merge in
    arbitrary order on both forms, so the rounded-6 means are
    bit-identical whenever a partition is one Arrow batch (the bench
    shape) and within the already-accepted partial-merge-order class
    otherwise (Spark's own ``avg`` has never promised a merge order;
    the round-6 contract absorbs it — oracle-verified ×3 SFs)."""
    import numpy as np

    cids = [cid for cid, _ in cents]
    cvals = [list(map(float, c)) for _, c in cents]

    def fn(batches):
        import pandas as pd

        cmat = np.array(cvals, dtype=np.float64)  # (k, dim)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)  # (n, dim)
            dists = _rounded_dists(x, cmat, dim)
            best = np.argmin(dists, axis=1)
            out_cid: list[int] = []
            out_w: list[list[float]] = []
            for j, cid in enumerate(cids):
                mask = best == j
                cnt = int(mask.sum())
                if not cnt:
                    continue
                xm = x[mask]
                s = (
                    np.add.accumulate(xm, axis=0)[-1]
                    if cnt > 1
                    else xm[0]
                )
                out_cid.append(cid)
                out_w.append([float(cnt)] + [float(v) for v in s])
            yield pd.DataFrame({"cid": out_cid, "w": out_w})

    return fn


def _mean_update(
    vectors: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
    dim: int,
) -> list[tuple[int, list[float]]]:
    """ONE centroid-update round as ONE bounded-summary job: the Arrow
    kernel emits per-batch per-cluster (count, sum) partials packed in
    one array column, a trivial (cid, i)-keyed sum merges them, and
    the driver computes the rounded-6 means ``round(Σs_i / Σn, 6)`` —
    the exact arithmetic of Spark's ``round(avg(x), 6)``, which
    evaluates as sum/count: the division is the same IEEE double
    divide and :func:`_round6_half_up` is the proven-bit-identical
    emulation of Spark's ``round(double, 6)``
    (tests/test_round6_vectorized.py pins it against Spark itself).
    Driver payload: k·(dim+1) scalars.  Clusters that receive no
    members drop out, same as the grouped-avg form."""
    if not cents:
        return []
    parts = vectors.select(vec_col).mapInPandas(
        _update_batches(cents, vec_col, dim), "cid int, w array<double>"
    )
    rows = (
        parts.select("cid", F.posexplode("w").alias("i", "x"))
        .groupBy("cid", "i")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    by: dict[int, dict[int, float]] = {}
    for r in rows:
        by.setdefault(r["cid"], {})[r["i"]] = r["s"]
    out: list[tuple[int, list[float]]] = []
    for cid in sorted(by):
        d = by[cid]
        n = d[0]
        out.append(
            (cid, [_round6_half_up(d[i + 1] / n) for i in range(dim)])
        )
    return out


def _kmeans_final_assignment(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "v",
    tol: float | None = None,
) -> DataFrame:
    """The Lloyd loop shared by :func:`kmeans_assign` (which projects
    the assignment) and :func:`kmeans_centroids` (which exports the
    trained quantizer): returns the final-round assignment WITH the
    vector column, ``(id, vec, cid, dist)``."""
    from ..sources.loaders import ensure_parallelism

    # Fanned out + cached: a small parquet table scans as one split,
    # and the HOF-heavy distance evaluation would then run on one
    # core every round.  Each iteration's centroid-update job plus
    # the final result all rescan this frame; without the cache every
    # round re-reads and re-casts the parquet.
    vectors = ensure_parallelism(vectors).cache()
    first_k = (
        vectors.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    )
    cents = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(first_k)]

    assign_schema = (
        f"`{id_col}` long, `{vec_col}` array<double>, cid int, dist double"
    )
    # Each update round is ONE bounded-summary job (round-11, see
    # _update_batches/_mean_update): the Arrow kernel assigns AND emits
    # the per-cluster (count, sum) partials, so only k·(dim+2) scalars
    # leave Python per round instead of the whole per-row assignment.
    # The last round's update feeds nothing (the contract returns the
    # final ASSIGNMENT) — skip that whole job.
    for _ in range(iters - 1):
        prev = dict(cents)
        new_cents = _mean_update(vectors, cents, vec_col, dim)
        if tol is not None:
            # Max squared movement over clusters alive in BOTH rounds
            # (a dropped cluster has no successor to move).  Driver-side
            # math over k·dim already-collected scalars.
            movement = max(
                (
                    sum((a - b) * (a - b) for a, b in zip(prev[cid], c))
                    for cid, c in new_cents
                    if cid in prev
                ),
                default=0.0,
            )
            if movement <= tol:
                # Converged: the returned assignment is the one under
                # the PRE-update centroids, exactly as the original
                # loop (which built the assignment before updating)
                # behaved — the tol anchors pin this.
                break
        cents = new_cents
    # The final-round assignment is the ONE per-row Arrow projection of
    # the whole training (round-10 optimization, see _assign_batches):
    # no join, no row blowup, no shuffle — and neither the per-scalar
    # py4j literal tree nor the interpreted zip_with fold of the
    # earlier forms.  Arithmetic is bit-identical by construction.
    return vectors.mapInPandas(
        _assign_batches(cents, id_col, vec_col, dim), assign_schema
    )


def kmeans_assign(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "v",
    tol: float | None = None,
) -> DataFrame:
    """Run ``iters`` assignment rounds of Lloyd's k-means (centroids
    update between rounds) and return the final assignment
    ``(id, cluster, dist)``.

    Init: the ``k`` rows with the smallest ids, in id order (cid =
    rank), the deterministic seed both engines can reproduce.

    ``tol`` (BACKLOG "k-means beyond fixed iterations"): when set,
    ``iters`` becomes a CAP and the loop stops early once the maximum
    squared centroid movement of a round is <= tol.  The movement
    check is plain Python over the k·dim scalars the update already
    collects — zero extra cluster work per round.  With ``tol=None``
    (the registry contract) behavior is bit-identical to the fixed
    unrolled oracle; a converged run is oracle-able only per its
    realized round count, so the registry keeps the fixed form.
    """
    assigned = _kmeans_final_assignment(
        vectors, k, iters, dim, id_col, vec_col, tol
    )
    return assigned.select(
        id_col, F.col("cid").alias("cluster"), "dist"
    )


def kcenter_centroids(
    vectors: DataFrame,
    k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Deterministic farthest-point (Gonzalez k-center) seeding — the
    derandomized form of k-means++'s D² rule (pick the point FARTHEST
    from the chosen set instead of D²-proportionally at random): start
    from the smallest-id vector, then ``k-1`` rounds of argmax over
    each vector's min squared distance to the selected set, smallest-id
    tiebreak.  Returns the picks as a ``(centroid_id, cvec)`` quantizer
    frame (centroid_id = selection rank), the external-quantizer shape
    ``cosine_topk_bucketed`` / the IVF audits take.

    Distances use the k-means contract's rounded-6 left-fold squared
    euclidean, so the oracle's unrolled argmax chain
    (plans/retrieval.py:_kcenter_ctes) agrees bit-for-bit.

    Scale shape: the min-distance column is maintained INCREMENTALLY —
    one ``least(md, dist-to-new-pick)`` update per round, each distance
    fold evaluated exactly once per row per round — and each round's
    frame is persisted LAZILY, so the round's single TakeOrdered argmax
    job both materializes the update and returns the pick (1-row
    collect; k·dim driver scalars total, the greedy_source_coverage
    collect class).  The previous round's cache is dropped as soon as
    its successor exists.  Round-10 optimization: the original form
    localCheckpoint-ed eagerly each round (2 jobs per round — one to
    materialize, one to argmax), and an intermediate rewrite as a pure
    ``least(...)`` expression chain over the base cache halved the jobs
    but re-evaluated ALL prior folds per row per round (O(k²·dim)
    interpreted work — measured 11.5 s vs 7 s at sf0.1).  Lazy persist
    keeps BOTH properties: 1 job per round and O(k·dim) per-row work;
    every md value — and therefore every pick — is bit-identical to
    both earlier forms (same left-nested least tree).  O(k) scans,
    never O(k²) distance recomputation.  A production run over 100 TB
    would seed from a per-partition sample first; the traversal itself
    is the standard coreset/seeding primitive (Gonzalez '85).
    """
    from ..sources.loaders import ensure_parallelism

    vectors = ensure_parallelism(vectors).cache()

    first = (
        vectors.orderBy(id_col).limit(1).select(id_col, vec_col).collect()
    )
    if not first:
        raise ValueError("kcenter_centroids: empty corpus")
    picks = [[float(x) for x in first[0][vec_col]]]
    cur = vectors.select(
        id_col, vec_col, _dist6_sql(vec_col, picks[0]).alias("md")
    ).persist()
    prev = None
    for t in range(1, k):
        # This argmax job ALSO materializes cur's cache (lazy persist),
        # so prev — which cur's lineage reads — may only be released
        # once the collect has run, never before.
        nxt = (
            cur.orderBy(F.desc("md"), F.asc(id_col))
            .limit(1)
            .select(id_col, vec_col)
            .collect()
        )
        if prev is not None:
            prev.unpersist(blocking=False)
        picks.append([float(x) for x in nxt[0][vec_col]])
        if t + 1 < k:
            prev, cur = cur, cur.select(
                id_col,
                vec_col,
                F.least(
                    F.col("md"), _dist6_sql(vec_col, picks[-1])
                ).alias("md"),
            ).persist()
    spark = vectors.sparkSession
    cur.unpersist(blocking=False)
    vectors.unpersist(blocking=False)
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(picks)],
        "centroid_id long, cvec array<double>",
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Export the TRAINED quantizer: the per-cluster rounded-6 means of
    the final k-means assignment, as a ``(centroid_id, cvec)`` frame —
    the shape :func:`..operators.similarity.cosine_topk_bucketed` and
    the IVF audits take as an external coarse quantizer.

    This is one more centroid UPDATE after the last assignment round
    (the oracle unrolls it as CTE ``c{iters}`` via
    ``_kmeans_ctes(final_update=True)``), so the exported centroids use
    the full information of the final assignment — i.e. exactly
    ``iters`` applications of the rounded-6 mean update to the seed.
    Same determinism contract as the loop: every mean rounds to 6
    before export.  Clusters that lost all members drop out — the
    quantizer can be narrower than ``k`` and both engines agree.

    Round-11: each update round is ONE bounded-summary job (see
    :func:`_mean_update` — the Arrow kernel emits per-cluster partial
    sums, k·dim scalars reach the driver), and the trained quantizer is
    exported as a LOCAL frame built from those scalars — the
    :func:`kcenter_centroids` shape — so downstream consumers that
    collect it into kernel closures (``assign_to_centroids``) or
    broadcast it pay no extra cluster job.  Scale shape per round: one
    corpus scan, k·(dim+2) scalars out of Python, a k-group merge."""
    from ..sources.loaders import ensure_parallelism

    spark = vectors.sparkSession
    vectors = ensure_parallelism(vectors).cache()
    first_k = (
        vectors.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    )
    cents = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(first_k)]
    for _ in range(iters):
        cents = _mean_update(vectors, cents, vec_col, dim)
    vectors.unpersist(blocking=False)
    return spark.createDataFrame(
        [(int(cid), [float(x) for x in c]) for cid, c in cents],
        "centroid_id long, cvec array<double>",
    )
