"""Extension-operator tests: dedup recall, similarity recall,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scats_transis_kinesis_spark.operators import dedup as D
from scats_transis_kinesis_spark.operators import multimodal as M
from scats_transis_kinesis_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup_flags_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "unique text here")], "doc_id long, text string"
    )
    groups = {r["keep_id"]: r["n_copies"] for r in D.exact_dedup_groups(df).collect()}
    assert groups == {1: 2, 3: 1}


def test_minhash_lsh_recall_vs_exact(spark, documents):
    # Every exact shingle-Jaccard pair ≥ threshold should be recovered
    # by the LSH path on this corpus (8×4 bands at J≥0.5 → per-pair
    # recall ≈ 1 - (1 - 0.5^4)^8 ≈ 0.66 theoretical worst case at the
    # threshold boundary; actual near-dups here sit at J≈1 where recall
    # ≈ 1).  Assert recall ≥ 0.8 and no false positives below threshold.
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(documents, n=3, threshold=0.5).collect()
    }
    lsh = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_near_dups(documents).collect()}
    assert lsh <= exact  # Jaccard-verified: no false positives
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.8


def test_simhash_identical_docs_same_hash(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "totally different words")],
        "doc_id long, text string",
    )
    hashes = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    assert hashes[1] == hashes[2]
    assert hashes[1] != hashes[3]
    assert all(0 <= h < (1 << D.SIMHASH_BITS) for h in hashes.values())


def test_ivf_recall_vs_bruteforce(spark, embeddings):
    qids = [0, 1, 2]
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_bruteforce(embeddings, qids, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_bucketed(embeddings, qids, k=5, num_centroids=8, nprobe=4).collect()
    }
    assert len(ivf & bf) / len(bf) >= 0.5  # approximate path: bounded recall loss
    for q in qids:  # every query returns a full k
        assert sum(1 for a, _ in ivf if a == q) == 5


def test_cosine_sim_bounds(spark, embeddings):
    out = S.cosine_topk_bruteforce(embeddings, [0], k=3).collect()
    assert len(out) == 3
    assert all(-1.0 <= r["cosine_sim"] <= 1.0 for r in out)


def test_multimodal_feature_stub(spark, documents):
    media = M.documents_as_media(documents.limit(20))
    feats = M.extract_features(media, strict=False, dim=8).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["feature"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
        assert r["n_bytes"] > 0
    # Determinism: same payload → same feature.
    again = M.extract_features(media, strict=False, dim=8).collect()
    assert {(r["media_id"], tuple(r["feature"])) for r in feats} == {
        (r["media_id"], tuple(r["feature"])) for r in again
    }


def test_multimodal_strict_mode_raises(spark, documents):
    media = M.documents_as_media(documents.limit(2))
    with pytest.raises(Exception) as exc_info:
        M.extract_features(media, strict=True).collect()
    msg = str(exc_info.value)
    # Pillow-less container: the documented NotImplementedError; with
    # Pillow installed the strict decode still fails on this synthetic
    # text payload, but as UnidentifiedImageError.
    assert any(
        s in msg
        for s in ("NotImplementedError", "codec", "identify image")
    ), msg


def test_frame_sampling(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"x"), ("video/mp4", None, None, 3500)),
         (2, bytearray(b"y"), ("audio/wav", None, None, None))],
        M.MEDIA_SCHEMA,
    )
    rows = {(r["media_id"], r["frame_idx"], r["offset_ms"]) for r in M.sample_frames(media, 1000).collect()}
    assert rows == {(1, 0, 0), (1, 1, 1000), (1, 2, 2000), (2, 0, 0)}


def test_simhash_pairs_find_planted_duplicates(spark):
    from scats_transis_kinesis_spark.operators.dedup import simhash_near_dup_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "completely different words about spark physical plans"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dup_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0  # identical docs -> identical simhash


def test_vectorized_topk_matches_columnwise_baseline(spark, embeddings):
    from scats_transis_kinesis_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_vectorized,
    )

    qids = [0, 1, 2]
    base = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in cosine_topk_bruteforce(embeddings, qids, k=5).collect()
    }
    fast = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in cosine_topk_vectorized(embeddings, qids, k=5).collect()
    }
    assert fast == base


def test_resize_media_rewrites_meta_keeps_payload(spark, documents):
    import scats_transis_kinesis_spark.operators.multimodal as M

    media = M.documents_as_media(documents.limit(5))
    before = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    resized = M.resize_media(media, width=64, height=64).collect()
    assert len(resized) == 5
    for r in resized:
        assert r["meta"]["width"] == 64 and r["meta"]["height"] == 64
        assert r["meta"]["mime"] == "text/plain"  # untouched fields survive
        assert bytes(r["payload"]) == before[r["media_id"]]

    import pytest as _pytest

    with _pytest.raises(
        Exception, match="NotImplementedError|codec|identify image"
    ):
        M.resize_media(media, 1, 1, strict=True).collect()


def _ppm_payload(width, height, pixels):
    """Tiny binary PPM: pixels = [(r, g, b), ...] row-major."""
    return M.encode_ppm(
        width, height, bytes(v for px in pixels for v in px)
    )


def _wav_payload(samples, rate=8000):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        import array

        w.writeframes(array.array("h", samples).tobytes())
    return buf.getvalue()


def _media_df(spark, rows):
    """rows = [(media_id, payload_bytes, mime)]"""
    return spark.createDataFrame(
        [(i, bytearray(p), (mime, None, None, None)) for i, p, mime in rows],
        M.MEDIA_SCHEMA,
    )


def test_strict_features_decode_real_ppm_and_wav(spark):
    """strict=True decodes actual payload content (stdlib PPM/WAV
    decoders — Pillow optional-imports in richer environments): image
    features carry true dimensions and channel means, audio features
    carry channels/rate/duration/RMS."""
    red_green = _ppm_payload(
        2, 1, [(255, 0, 0), (0, 255, 0)]
    )  # mean R = mean G = 127.5/255
    silence = _wav_payload([0] * 8000)  # 1 s of silence at 8 kHz
    df = _media_df(
        spark,
        [
            (1, red_green, "image/x-portable-pixmap"),
            (2, silence, "audio/wav"),
        ],
    )
    feats = {r["media_id"]: r["feature"] for r in M.extract_features(df, strict=True).collect()}
    img = feats[1]
    assert img[0] == round(2 / 4096.0, 6) and img[1] == round(1 / 4096.0, 6)
    assert img[2] == img[3] == 0.5  # mean R and G over the two pixels
    assert img[4] == 0.0  # no blue anywhere
    audio = feats[2]
    assert audio[0] == round(1 / 8.0, 6)          # mono
    assert audio[1] == round(8000 / 48000.0, 6)   # frame rate
    assert audio[2] == 1.0                        # exactly one second
    assert audio[3] == 0.0                        # RMS of silence

    loud = _wav_payload([16384, -16384] * 4000)
    df2 = _media_df(spark, [(3, loud, "audio/wav")])
    [r] = M.extract_features(df2, strict=True).collect()
    assert r["feature"][3] == 0.5  # RMS 16384/32768


def test_strict_resize_really_resamples_ppm(spark):
    """strict resize decodes, nearest-neighbor resamples, re-encodes:
    a 2x2 checkerboard upscaled to 4x4 replicates each source pixel
    into a 2x2 block, and the metadata matches the new payload."""
    check = _ppm_payload(
        2, 2,
        [(255, 0, 0), (0, 0, 255), (0, 0, 255), (255, 0, 0)],
    )
    df = _media_df(spark, [(1, check, "image/x-portable-pixmap")])
    [r] = M.resize_media(df, width=4, height=4, strict=True).collect()
    assert r["meta"]["width"] == 4 and r["meta"]["height"] == 4
    w, h, rgb = M._parse_ppm(bytes(r["payload"]))
    assert (w, h) == (4, 4)

    def px(x, y):
        i = (y * 4 + x) * 3
        return tuple(rgb[i : i + 3])

    red, blue = (255, 0, 0), (0, 0, 255)
    for y in range(4):
        for x in range(4):
            want = red if (x // 2 + y // 2) % 2 == 0 else blue
            assert px(x, y) == want, (x, y)


def test_strict_features_unsupported_mime_raises(spark):
    df = _media_df(spark, [(1, b"\x00\x01", "video/mp4")])
    with pytest.raises(Exception, match="NotImplementedError|no decoder"):
        M.extract_features(df, strict=True).collect()


def test_split_error_documents_dead_letter(spark):
    from scats_transis_kinesis_spark.operators.projection import split_error_documents

    df = spark.createDataFrame(
        [("false", None), ("true", "boom"), (None, None)],
        "error string, error_msg string",
    )
    good, bad = split_error_documents(df)
    assert good.count() == 2  # 'false' and NULL error both flow on
    assert [r["error_msg"] for r in bad.collect()] == ["boom"]


def test_connected_components_chain_and_islands(spark):
    from scats_transis_kinesis_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4)], "id_a long, id_b long"
    )
    got = {
        (r["member_id"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    # the 1-2-3-4 chain needs multi-round propagation to collapse to 1
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_keeps_self_pair_singletons(spark):
    # A vertex whose only pair is reflexive must survive as its own
    # singleton cluster (the min-label implementation's behavior; the
    # star rewrite must not drop it with the self-loop filter).
    from scats_transis_kinesis_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(7, 7), (1, 2)], "id_a long, id_b long"
    )
    got = {
        (r["member_id"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {(7, 7), (1, 1), (2, 1)}


def test_connected_components_long_chain_bounded_rounds(spark):
    """Adversarial 1000-vertex chain (the worst case for min-label
    propagation: O(diameter) = 1000 rounds): the alternating-star loop
    must collapse it to one cluster in O(log²) rounds.  Also pins a
    shuffled-id chain, so correctness never rides on ids arriving in
    path order."""
    import random

    from scats_transis_kinesis_spark.operators.dedup import (
        connected_components,
    )

    n = 1000
    ids = list(range(n))
    rng = random.Random(7)
    rng.shuffle(ids)  # chain path visits vertex ids in random order
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "id_a long, id_b long"
    )
    rows = connected_components(pairs).collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}
    assert connected_components.last_rounds <= 15, (
        f"star rounds blew up: {connected_components.last_rounds}"
    )


def test_connected_components_random_graph_matches_union_find(spark):
    """Randomized parity: alternating-star labels must equal a plain
    union-find ground truth on a random sparse graph (multiple
    components, cliques, chains, isolated pairs)."""
    import random

    from scats_transis_kinesis_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(123)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    verts = {v for e in edges for v in e}
    want = {}
    for v in verts:
        root = find(v)
        want[v] = min(u for u in verts if find(u) == root)

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["member_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == want


def test_compact_table_merges_small_files(spark, tmp_path):
    from scats_transis_kinesis_spark.sources.loaders import compact_table

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    df = spark.range(10_000).withColumn("k", (F.col("id") % 7).cast("int"))
    # Simulate a streaming sink's debris: 64 tiny files.
    df.repartition(64).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/*.parquet")) == 64
    n_files = compact_table(spark, src, dst, target_file_rows=5_000)
    assert n_files == 2
    # Content survives exactly.
    assert spark.read.parquet(dst).orderBy("id").collect() == (
        df.orderBy("id").collect()
    )


def test_compact_table_range_sort_makes_files_disjoint(spark, tmp_path):
    from scats_transis_kinesis_spark.sources.loaders import compact_table

    src, dst = str(tmp_path / "small2"), str(tmp_path / "compact2")
    spark.range(10_000).repartition(32).write.parquet(src)
    compact_table(spark, src, dst, target_file_rows=5_000, sort_col="id")
    import glob

    ranges = []
    for f in glob.glob(dst + "/*.parquet"):
        part = spark.read.parquet(f).agg(F.min("id"), F.max("id")).first()
        ranges.append((part[0], part[1]))
    ranges.sort()
    # Range-partitioned output: each file's id span ends before the
    # next begins, so min/max footer stats prune point lookups to one
    # file.
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo


def test_pack_context_windows_invariants(spark):
    """Property check of the hierarchical-prefix-sum packing: per-doc
    contributions sum to the doc's token count, and every window except
    the last is filled to exactly the budget."""
    from scats_transis_kinesis_spark.plans.curation import (
        PACK_BUDGET,
        pack_context_windows,
    )
    from scats_transis_kinesis_spark.sources.loaders import load_table

    sf_dir = "/root/testdata/sf0.001"
    got = pack_context_windows(spark, sf_dir)
    per_doc = {
        r["doc_id"]: r["s"]
        for r in got.groupBy("doc_id")
        .agg(F.sum("tokens_in_window").alias("s"))
        .collect()
    }
    docs = load_table(spark, "documents", sf_dir)
    expect = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    assert per_doc == expect

    win = {
        r["window_id"]: r["s"]
        for r in got.groupBy("window_id")
        .agg(F.sum("tokens_in_window").alias("s"))
        .collect()
    }
    last = max(win)
    for w, s in win.items():
        assert s == PACK_BUDGET or (w == last and s <= PACK_BUDGET)


def test_read_evolved_merges_added_and_renamed_columns(spark, tmp_path):
    from scats_transis_kinesis_spark.sources.loaders import read_evolved

    path = str(tmp_path / "evolving")
    # v1: (id, qty) — the original schema
    spark.createDataFrame([(1, 10), (2, 20)], "id long, qty long").write.parquet(
        path + "/v=1"
    )
    # v2: qty renamed to quantity, new unit column added
    spark.createDataFrame(
        [(3, 30, "kg")], "id long, quantity long, unit string"
    ).write.parquet(path + "/v=2")

    df = read_evolved(spark, path, renames={"qty": "quantity"})
    rows = {r["id"]: (r["quantity"], r["unit"]) for r in df.collect()}
    assert rows == {1: (10, None), 2: (20, None), 3: (30, "kg")}
    assert "qty" not in df.columns


def test_parquet_column_minmax_reads_footer_stats(spark, tmp_path):
    """Footer-stats bounds are exact and need no Spark job; missing
    columns (or stats) fall back to None so callers can scan instead."""
    from scats_transis_kinesis_spark.sources.loaders import (
        parquet_column_minmax,
    )

    path = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr("id + 7 AS doc_id").coalesce(2).write.parquet(
        path
    )
    assert parquet_column_minmax(path, "doc_id") == (7, 106)
    assert parquet_column_minmax(path, "missing_col") is None
    assert parquet_column_minmax(str(tmp_path / "nope.parquet"), "x") is None


def test_parquet_column_minmax_nested_column_shift(spark, tmp_path):
    """A nested (struct) column BEFORE the target contributes multiple
    parquet leaves, so an arrow-schema (top-level) index would point at
    the wrong leaf's statistics — the target must resolve against leaf
    paths.  Here the struct's two leaves hold ranges disjoint from the
    flat column's, so a shifted index returns visibly wrong bounds."""
    from scats_transis_kinesis_spark.sources.loaders import (
        parquet_column_minmax,
    )

    path = str(tmp_path / "nested.parquet")
    (
        spark.range(50)
        .selectExpr(
            "named_struct('a', id + 1000, 'b', id + 2000) AS s",
            "id + 7 AS doc_id",
        )
        .coalesce(1)
        .write.parquet(path)
    )
    assert parquet_column_minmax(path, "doc_id") == (7, 56)
    # nested leaves are addressable by their dotted path
    assert parquet_column_minmax(path, "s.a") == (1000, 1049)
    # the struct container itself has no leaf stats
    assert parquet_column_minmax(path, "s") is None


def test_ensure_parallelism_gated_by_input_size(spark, tmp_path):
    """The fan-out repartition is size-gated: a tiny single-split input
    stays narrow (the round-2 regression: a 32-way shuffle + Python
    worker spin-up on sub-MB inputs made CPU-bound queries slower), a
    multi-MiB single-split input still fans out."""
    from scats_transis_kinesis_spark.sources.loaders import (
        _MIN_FANOUT_BYTES_PER_SLOT,
        ensure_parallelism,
    )

    small_path = str(tmp_path / "small.parquet")
    spark.range(1000).coalesce(1).write.parquet(small_path)
    small = spark.read.parquet(small_path)
    assert small.rdd.getNumPartitions() == 1
    assert ensure_parallelism(small).rdd.getNumPartitions() == 1

    # ~8 MiB of incompressible data in one file -> a handful of slots
    # clear the 1 MiB/slot bar, but never more than the data supports.
    big_path = str(tmp_path / "big.parquet")
    (
        spark.range(60_000)
        .selectExpr("id", "sha2(cast(id AS string), 256) AS a",
                    "sha2(cast(id + 1 AS string), 512) AS b")
        .coalesce(1)
        .write.parquet(big_path)
    )
    big = spark.read.parquet(big_path)
    import os

    n_bytes = sum(
        os.path.getsize(os.path.join(big_path, f))
        for f in os.listdir(big_path)
        if f.endswith(".parquet")
    )
    fanned = ensure_parallelism(big).rdd.getNumPartitions()
    expected_cap = spark.sparkContext.defaultParallelism
    assert 1 < fanned <= expected_cap
    assert fanned <= max(1, n_bytes // _MIN_FANOUT_BYTES_PER_SLOT) + 1


def test_minhash_signature_estimate_tracks_exact_jaccard(spark):
    """Calibration of incremental_minhash_dedup's verifier: the
    matching-row fraction of two k=32 signatures is an unbiased
    Jaccard estimator with sigma ~= 0.088 — random doc pairs across
    the overlap range must estimate within 4-sigma each and well
    within 2-sigma on average."""
    import random

    from pyspark.sql import functions as F

    from scats_transis_kinesis_spark.operators.dedup import (
        SHINGLE_N,
        minhash_signatures,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    docs, truths = [], {}
    pair_id = 0
    for overlap in [0.0, 0.2, 0.4, 0.6, 0.8, 1.0]:
        for _ in range(3):
            base = [rng.choice(vocab) for _ in range(60)]
            other = list(base)
            n_replace = int(len(base) * (1 - overlap))
            for idx in rng.sample(range(len(base)), n_replace):
                other[idx] = rng.choice(vocab)
            a_id, b_id = 2 * pair_id, 2 * pair_id + 1
            docs.append((a_id, " ".join(base)))
            docs.append((b_id, " ".join(other)))

            def shingles(toks):
                return {
                    " ".join(toks[i : i + SHINGLE_N])
                    for i in range(len(toks) - SHINGLE_N + 1)
                }
            sa, sb = shingles(base), shingles(other)
            truths[(a_id, b_id)] = len(sa & sb) / len(sa | sb)
            pair_id += 1

    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {
        r["doc_id"]: [r[f"m{i}"] for i in range(32)]
        for r in minhash_signatures(df).collect()
    }
    errs = []
    for (a_id, b_id), exact in truths.items():
        est = sum(
            1 for x, y in zip(sigs[a_id], sigs[b_id]) if x == y
        ) / 32.0
        assert abs(est - exact) <= 0.36, (a_id, b_id, est, exact)
        errs.append(abs(est - exact))
    assert sum(errs) / len(errs) <= 0.15, errs


def test_stratified_kfold_balance_within_one(spark):
    """The exact-stratification claim: every (stratum, fold) cell count
    is within ONE of any other cell of the same stratum — including
    strata whose size is not divisible by the fold count."""
    from pyspark.sql import functions as F

    from scats_transis_kinesis_spark.plans.curation import KFOLDS

    rows = [(i, ["aa", "bb", "cc"][i % 3]) for i in range(97)]  # 33/32/32
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    df.createOrReplaceTempView("_kf_docs")
    # reuse the registered query's fold rule on this synthetic frame
    from scats_transis_kinesis_spark.functions.hashing import portable_hash32
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        portable_hash32(F.col("doc_id").cast("string")), "doc_id"
    )
    folded = df.select(
        "lang", ((F.row_number().over(w) - F.lit(1)) % KFOLDS).alias("fold")
    )
    counts = {
        (r["lang"], r["fold"]): r["n"]
        for r in folded.groupBy("lang", "fold").agg(F.count("*").alias("n")).collect()
    }
    for lang in ("aa", "bb", "cc"):
        per_fold = [counts.get((lang, f), 0) for f in range(KFOLDS)]
        assert max(per_fold) - min(per_fold) <= 1, (lang, per_fold)
        assert sum(per_fold) in (32, 33)


def test_batch_writer_stages_attempt_unique_names(tmp_path):
    """Two attempts of the same partition (task retry / speculation on
    a reused worker process) must stage to DIFFERENT files — a
    pid-keyed name let concurrent attempts interleave into one staged
    file and commit a corrupt capture."""
    import os

    from scats_transis_kinesis_spark.sources.datasource import (
        TransisXMLBatchWriter,
    )

    out = str(tmp_path / "caps")
    os.makedirs(out)
    w = TransisXMLBatchWriter({"path": out}, overwrite=False)
    # Outside a task context the writer falls back to a per-attempt
    # uuid; two write() calls in the SAME process (same pid — the exact
    # collision of the old scheme) must not share a staged path.
    m1 = w.write(iter([("<doc-a/>",)]))
    m2 = w.write(iter([("<doc-a/>",)]))
    assert m1.staged and m2.staged and m1.staged != m2.staged
    w.commit([m1])  # first attempt wins; second stays staged, GC'd next
    files = [n for n in os.listdir(out) if n.endswith(".xml0")]
    assert len(files) == 1
    data = open(os.path.join(out, files[0]), "rb").read()
    assert data == b"<doc-a/>\x00"
