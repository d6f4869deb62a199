"""Similarity search over embedding columns (north star).

- ``cosine_topk_bruteforce`` — exact top-k: broadcast the (small) query
  set against the corpus; one pass, no shuffle of the corpus.  The
  baseline and the oracle-checked path.
- ``cosine_topk_bucketed`` — the scale path: cluster-pruned search.
  Corpus vectors are assigned to the nearest of C coarse centroids
  (IVF-style); a query only scans its nprobe closest clusters.  At 100
  TB the corpus is partitioned by centroid id, so a query touches
  nprobe/C of the data.  Centroids here are seeded samples of the
  corpus itself (deterministic), refreshed offline in a real
  deployment.

The embedding-pair kernel every pair-scoring path shares (batch and
incremental sign-LSH dedup, the banding audits, IVF search and its
recall audits):

- ``sign_bucket`` / ``sign_lsh_buckets`` / ``sign_lsh_pairs`` — the one
  sign-LSH banding (``LSH_BANDS`` × ``LSH_BITS`` over the leading dims)
  and its slim ``(id_a, id_b)`` candidate equi-join on (band, bucket);
- ``pair_cosine`` — the one pair scorer: vectors join back by key, norms
  are per-row columns (``cosine_with_norms``), cosine rounds to 6;
- ``ivf_candidates`` — the one IVF candidate frame: each query's
  ``nprobe`` nearest centroids (with their rank) and the scored members
  of those clusters.

Dot products use ``F.zip_with`` + ``F.aggregate`` in double precision —
JVM-side, no UDF.  Outputs round to 6 digits so partial-sum order can
never flip a comparison against the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with the two norms taken from PRE-COMPUTED
    columns (round-10 optimization): in a join context, ``cosine``
    re-evaluates ``_norm`` — an interpreted higher-order fold over the
    whole vector — once per PAIR for each side; hoisting the norms into
    per-row columns before the join evaluates each exactly once per
    row.  Bit-identical by construction: ``na``/``nb`` hold the very
    same ``_norm`` expression values (storing a double in a column is
    exact) and the division tree is unchanged."""
    return _dot(a, b) / (na * nb)


# Sign-LSH banding with basis hyperplanes (Charikar '02): band b packs
# the sign bits of dims [b*bits, (b+1)*bits) into one int.  4 bands x 8
# bits hash the first 32 dims — the precision layout; the recall twin
# re-bands the same prefix as 8 x 4.
LSH_BANDS = 4
LSH_BITS = 8


def sign_bucket(vec: Column, band: int, bits: int = LSH_BITS) -> Column:
    """Pack the sign bits of dims [band*bits, (band+1)*bits) of ``vec``
    into one int."""
    bucket = F.lit(0)
    for d in range(bits):
        bit = F.when(F.element_at(vec, band * bits + d + 1) > 0, F.lit(1 << d)).otherwise(0)
        bucket = bucket + bit
    return bucket


def sign_lsh_buckets(
    vecs: DataFrame,
    bands: int = LSH_BANDS,
    bits: int = LSH_BITS,
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id, band, bucket)`` rows for an ``(id, v)`` vector frame."""
    arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sign_bucket(F.col("v"), b, bits).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return vecs.select(id_col, F.explode(arr).alias("bb")).select(
        id_col, "bb.band", "bb.bucket"
    )


def sign_lsh_pairs(
    vecs: DataFrame,
    bands: int = LSH_BANDS,
    bits: int = LSH_BITS,
    id_col: str = "vec_id",
) -> DataFrame:
    """Slim ``(id_a, id_b)`` candidate pairs, ``id_a < id_b``, sharing a
    (band, bucket): a shuffle-partitioned equi-join, never all-pairs.
    Vectors do not ride this shuffle; :func:`pair_cosine` joins them
    back by key."""
    buckets = sign_lsh_buckets(vecs, bands, bits, id_col)
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def pair_cosine(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame | None = None,
    id_col: str = "vec_id",
    a: str = "id_a",
    b: str = "id_b",
) -> DataFrame:
    """``(a, b, cosine_sim)`` for the id pairs in ``pairs``: ``a`` keys
    into ``left`` and ``b`` into ``right`` (default ``left``), both
    ``(id, v)`` frames.  The vectors join back by key with each norm a
    per-row column (:func:`cosine_with_norms`); the cosine rounds to 6
    digits."""

    def side(df: DataFrame, key: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(key), "v", _norm(F.col("v")).alias("_n")
        )

    # The a side's columns are renamed between the two joins.  Besides
    # freeing the names for the b side, the renaming projection stops
    # the optimizer from flattening the two joins into one reorderable
    # group: given row counts but no column statistics (cached inputs),
    # cost-based reordering would join the two vector sides first, on
    # the cosine predicate alone — a nested loop over all vector pairs.
    with_a = pairs.join(side(left, a), a).select(
        a, b, F.col("v").alias("_va"), F.col("_n").alias("_na")
    )
    return with_a.join(side(left if right is None else right, b), b).select(
        a,
        b,
        F.round(
            cosine_with_norms(F.col("_va"), F.col("v"), F.col("_na"), F.col("_n")),
            6,
        ).alias("cosine_sim"),
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    The query side is a broadcast nested-loop against the corpus scan —
    the corpus is read once and never shuffled; the final top-k is a
    per-query window over |queries|·|corpus| rows."""
    from pyspark.sql import Window as W

    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    pairs = embeddings.select(
        id_col, vec_col, _norm(F.col(vec_col)).alias("_cn")
    ).alias("c").join(
        F.broadcast(q), F.col(f"c.{id_col}") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col(f"c.{id_col}").alias("neighbor_id"),
        F.round(
            cosine_with_norms(
                F.col("qvec"),
                F.col(f"c.{vec_col}"),
                F.col("_qn"),
                F.col("_cn"),
            ),
            6,
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def hard_negative_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining (contrastive-training staple): for each
    query vector, the ``k`` most cosine-similar corpus vectors with a
    DIFFERENT label — the near-misses a contrastive loss learns most
    from.  Same plan shape as :func:`cosine_topk_bruteforce` (broadcast
    query set, corpus scanned once, per-query window top-k); the label
    inequality rides the join predicate, so negatives are filtered
    before the window.  The scale path composes exactly like search:
    swap the corpus scan for the IVF-pruned candidate set of
    :func:`cosine_topk_bucketed` when |corpus| makes brute force
    infeasible."""
    from .relational import top_k_per_group

    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlabel"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    pairs = embeddings.select(
        id_col, vec_col, label_col, _norm(F.col(vec_col)).alias("_cn")
    ).alias("c").join(
        F.broadcast(q), F.col(f"c.{label_col}") != F.col("qlabel")
    )
    scored = pairs.select(
        "query_id",
        F.col(f"c.{id_col}").alias("negative_id"),
        F.col(f"c.{label_col}").alias("negative_label"),
        F.round(
            cosine_with_norms(
                F.col("qvec"),
                F.col(f"c.{vec_col}"),
                F.col("_qn"),
                F.col("_cn"),
            ),
            6,
        ).alias("cosine_sim"),
    )
    return top_k_per_group(
        scored,
        keys=["query_id"],
        order=[F.desc("cosine_sim"), F.asc("negative_id")],
        k=k,
    ).select("query_id", "negative_id", "negative_label", "cosine_sim")


def assign_to_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid by rounded-6
    cosine with a centroid-id tiebreak — the one assignment definition
    shared by the seed and trained (k-means) quantizers, so a recall
    comparison between them isolates centroid QUALITY.  ``centroids``
    is a small ``(centroid_id, cvec)`` frame (bounded; collected into
    the kernel closure, the k-means-assignment pattern).

    Round-10 optimization (guide §4.2, the ml._assign_batches
    precedent): the assignment is ONE Arrow-batched numpy projection
    instead of a broadcast cross-join + interpreted zip_with cosine
    fold per (row, centroid) + row_number window.  Bit-identical by
    construction: dot and both norm folds accumulate dimension by
    dimension in float64 (the SAME left-to-right IEEE sequence the
    higher-order fold evaluated, with the float→double element cast
    applied up front — exact), the division tree is ``dot / (vn·cn)``
    unchanged, rounding is the exact ``_round6_half_up`` emulation of
    Spark's ``round(_, 6)``, and ``np.argmax`` returns the FIRST
    maximum over centroids pre-sorted by ascending id — the
    (c_sim DESC, centroid_id ASC) row_number tiebreak (NaN, which
    Spark's DESC order also puts first, propagates through argmax the
    same way).  No join, no shuffle, no row blowup."""
    import math as _math

    from ..sources.loaders import ensure_parallelism
    from .ml import _round6_half_up_arr

    cent_rows = centroids.select("centroid_id", "cvec").collect()
    cents = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in cent_rows
    )
    e = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    out_schema = f"`{id_col}` long, `{vec_col}` array<double>, centroid_id long"
    if not cents:
        # Degenerate quantizer: the old cross-join against an empty
        # centroid frame produced zero rows.
        return (
            e.where(F.lit(False))
            .withColumn("centroid_id", F.lit(None).cast("long"))
        )
    cids = [c for c, _ in cents]
    cvals = [v for _, v in cents]
    # Centroid norms: the same scalar left fold _norm evaluates.
    cn_list = []
    for v in cvals:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        cn_list.append(_math.sqrt(acc))

    def fn(batches):
        import numpy as np
        import pandas as pd

        cmat = np.array(cvals, dtype=np.float64)  # (k, dim)
        cn = np.array(cn_list, dtype=np.float64)
        k = len(cids)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)  # (n, dim)
            n, dim = x.shape
            vacc = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                vacc = vacc + x[:, d] * x[:, d]
            vn = np.sqrt(vacc)
            sims = np.empty((n, k), dtype=np.float64)
            for j in range(k):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):
                    acc = acc + x[:, d] * cmat[j, d]
                cos = acc / (vn * cn[j])
                sims[:, j] = _round6_half_up_arr(cos)
            best = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "centroid_id": [cids[b] for b in best],
                }
            )

    return ensure_parallelism(e).mapInPandas(fn, out_schema)


def assign_centroids(
    embeddings: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: centroids = the ``num_centroids`` corpus
    vectors with the smallest ids (deterministic seed sample); every
    vector is assigned to its nearest centroid by cosine.

    Returns (centroids, assigned corpus with ``centroid_id``)."""
    cents = (
        embeddings.orderBy(F.asc(id_col))
        .limit(num_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec"))
    )
    return cents, assign_to_centroids(embeddings, cents, id_col, vec_col)


def cosine_topk_bucketed(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-pruned approximate top-k: scan only the ``nprobe`` clusters
    closest to each query.  Recall < 1 by design; the brute-force
    operator is the correctness baseline.

    ``centroids`` (round 10): an externally TRAINED coarse quantizer as
    a ``(centroid_id, cvec)`` frame (e.g. k-means means) replaces the
    default smallest-id seed sample; assignment/probing semantics are
    unchanged, so recall improves exactly as much as the quantizer
    does (measured by ivf_kmeans_recall_audit)."""
    from pyspark.sql import Window as W

    if centroids is None:
        cents, assigned = assign_centroids(
            embeddings, num_centroids, id_col, vec_col
        )
    else:
        cents = centroids
        assigned = assign_to_centroids(embeddings, cents, id_col, vec_col)
    scored = ivf_candidates(
        embeddings, assigned, cents, query_ids, nprobe, id_col, vec_col
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def ivf_candidates(
    embeddings: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    query_ids: list[int] | tuple[int, ...],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF candidate frame ``(query_id, crank, neighbor_id,
    cosine_sim)``: each query's ``nprobe`` nearest ``(centroid_id,
    cvec)`` centroids, ranked 1.. by rounded-6 cosine with the centroid
    id as tiebreak, then every other member of those clusters in
    ``assigned`` (from :func:`assign_to_centroids`) scored by rounded-6
    cosine.  The centroids and the probe frame are broadcast; the corpus
    is scanned once."""
    from pyspark.sql import Window as W

    q = embeddings.where(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    cranks = (
        q.crossJoin(F.broadcast(centroids.withColumn("_ctn", _norm(F.col("cvec")))))
        .select(
            "query_id",
            "qvec",
            "_qn",
            "centroid_id",
            F.round(
                cosine_with_norms(
                    F.col("qvec"), F.col("cvec"), F.col("_qn"), F.col("_ctn")
                ),
                6,
            ).alias("c_sim"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
            ),
        )
        .where(F.col("crank") <= nprobe)
        .select("query_id", "qvec", "_qn", "centroid_id", "crank")
    )
    return (
        assigned.withColumn("_cn", _norm(F.col(vec_col)))
        .join(F.broadcast(cranks), "centroid_id")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            "crank",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_with_norms(
                    F.col("qvec"), F.col(vec_col), F.col("_qn"), F.col("_cn")
                ),
                6,
            ).alias("cosine_sim"),
        )
    )


def cosine_topk_vectorized(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy matmul — the extreme-throughput
    twin of :func:`cosine_topk_bruteforce` (SCALE.md §5).

    The (tiny) normalized query matrix ships to executors inside the UDF
    closure; each Arrow batch of corpus vectors scores against ALL
    queries in one BLAS ``C @ Q.T`` and emits only its per-batch top-k
    candidates — the shuffle carries |batches|·|queries|·k rows, then a
    window takes the global top-k.  Same semantics as the column-wise
    baseline (round-6 scores, id tiebreak); FP sum order differs (BLAS
    vs sequential), so equality is up to the rounding — the unit test
    pins it against the baseline."""
    from collections.abc import Iterator

    import numpy as np

    q_rows = (
        embeddings.where(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )  # |queries| rows only — the corpus never touches the driver
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, cosine_sim double"

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            c = np.array(list(pdf[vec_col]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            scores = c @ q_mat.T  # (n_batch, n_queries)
            frames = []
            for j, qid in enumerate(q_ids):
                col = scores[:, j]
                keep = ids != qid
                cand_idx = np.nonzero(keep)[0]
                top = cand_idx[np.argsort(-col[cand_idx], kind="stable")[: k]]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[top],
                            "cosine_sim": np.round(col[top], 6),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    from pyspark.sql import Window as W

    # NOTE: no forced fan-out here — per-batch BLAS work is microseconds
    # at small corpus sizes, so extra partitions only add Arrow-worker
    # round-trips; at real scale the scan itself provides the splits.
    candidates = embeddings.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def anisotropy_stats(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding-space anisotropy audit (Ethayarajh EMNLP'19):
    every vector's cosine to the GLOBAL corpus centroid plus norm
    statistics.  An isotropic space averages near zero cosine; a
    collapsed one (the failure that silently breaks cosine dedup and
    retrieval) pushes the average toward 1.

    The centroid's per-dimension averages round to 6 digits BEFORE the
    dot product, and per-label averages run over already-rounded
    per-vector values, so partial-aggregation order can never flip a
    reported digit (the rounded-intermediate contract shared with
    embedding_label_margin).  Scale shape: one exploded (dim)-keyed
    aggregate collapsing map-side into a single broadcast centroid row;
    per-vector scoring is one corpus scan; output is |labels| rows.
    """
    e = embeddings.select(
        label_col, F.col(vec_col).cast("array<double>").alias("v")
    )
    cent = (
        e.select(F.posexplode("v").alias("idx", "val"))
        .groupBy("idx")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        label_col,
        F.round(_norm(F.col("v")), 6).alias("norm6"),
        F.round(cosine(F.col("v"), F.col("cvec")), 6).alias("cos6"),
    )
    return scored.groupBy(label_col).agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.round(F.avg("norm6"), 6).alias("avg_norm"),
        F.round(F.avg("cos6"), 6).alias("avg_cos_centroid"),
        F.min("cos6").alias("min_cos_centroid"),
        F.max("cos6").alias("max_cos_centroid"),
        F.round(
            F.avg(F.when(F.col("cos6") < 0, 1.0).otherwise(0.0)), 6
        ).alias("frac_negative_cos"),
    )


def nearest_cross_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str = "train_id",
    query_id: str = "eval_id",
    vec_col: str = "v",
) -> DataFrame:
    """For every query vector, its single nearest corpus vector by
    cosine — the two-table form of :func:`cosine_topk_vectorized`
    (Arrow-batched BLAS matmul; the contamination-check hot path).

    The (small by construction) query matrix ships inside the UDF
    closure — |queries| rows is the only driver-side collect, the
    corpus never leaves the executors.  Each Arrow batch scores against
    ALL queries in one ``C @ Q.T``, rounds to 6 digits, and emits only
    its per-batch best per query under the (cosine DESC, corpus id ASC)
    order, so the shuffle carries |batches|·|queries| rows and a window
    picks the global winner under the SAME order — round-then-rank,
    matching the SQL oracle's tie semantics exactly."""
    from collections.abc import Iterator

    import numpy as np

    q_rows = queries.select(query_id, vec_col).collect()
    q_ids = np.array([r[query_id] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = f"{query_id} long, {corpus_id} long, cosine_sim double"

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            c = np.array(list(pdf[vec_col]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            scores = np.round(c @ q_mat.T, 6)  # (n_batch, n_queries)
            # Per-query batch winner under (score DESC, corpus id ASC):
            # lexsort is stable and sorts by the LAST key first.
            order = np.lexsort(
                (
                    np.broadcast_to(ids, (len(q_ids), len(ids))),
                    -scores.T,
                )
            )  # (n_queries, n_batch): row-wise sort indices
            best = order[:, 0]
            yield pd.DataFrame(
                {
                    query_id: q_ids,
                    corpus_id: ids[best],
                    "cosine_sim": scores[best, np.arange(len(q_ids))],
                }
            )

    from pyspark.sql import Window as W

    candidates = corpus.select(corpus_id, vec_col).mapInPandas(score, out_schema)
    w = W.partitionBy(query_id).orderBy(
        F.desc("cosine_sim"), F.asc(corpus_id)
    )
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(query_id, corpus_id, "cosine_sim")
    )
