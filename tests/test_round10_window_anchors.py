"""Window-ahead anchors for the round-10 driver-fill cohort.

The 12 round-3 queries that did not fit round 9's 50 slots lead round
10's fill (registry.py window comment).  Six of them already carry
dedicated replay anchors (corpus-hygiene, split-sampling, SCD2,
inverted-index files); the six below had no test pinning their DECISION
points, so this file replays them in plain Python BEFORE the driver
re-samples them — the same window-ahead pattern as
test_round9_window_anchors.py.

- ``regex_extract_long_words``: the {5,} length boundary, case
  sensitivity splitting runs, greedy longest-match, and the
  no-match-row-filtered contract.
- ``resample_locf_fill``: NULL before first observation (never zero),
  carry across gaps, observed day overriding the carry, and grid rows
  for a user whose only events fall outside the grid month.
- ``try_cast_dirty_data``: the Spark-vs-DuckDB string->INT semantics
  divergence found in round 9 (DuckDB coerces '3.5'/'3.0'/'1e2' where
  Spark NULLs) — this test runs BOTH engines on a corpus built from
  the divergent literals and asserts they agree post-fix.
- ``ngram_contamination_check``: the bench/corpus doc_id boundary,
  within-doc duplicate shingles counting once, one shingle hitting two
  bench docs, and clean corpus docs absent from the report.
- ``dq_constraint_audit``: duplicate-key arithmetic (3 copies = 2
  violations), NULL FK keys counted as dangling by BOTH the anti-join
  and NOT EXISTS, row-not-key dangling counts, and <= 0 domain edges.
- ``curriculum_mixture_sample``: the binding-language cap (rate exactly
  1.0 keeps every doc — the hash threshold is strict-<), md5-hash keep
  membership replayed per doc, and corpus languages missing from the
  weight table excluded entirely.
"""

from __future__ import annotations

import hashlib
import re
from datetime import datetime


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{path}/documents.parquet")


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{path}/events.parquet")


def test_regex_long_words_boundary_case_and_greed(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.text import (
        regex_extract_long_words,
    )

    docs = [
        # exactly-5 kept, 4 dropped, uppercase splits the run (Abcdef
        # contributes only its lowercase tail), 10-letter run is ONE
        # greedy match, never two fives.
        (0, "abcde abcd Abcdef xyzxyzxyzx"),
        (1, "ab cd efg hij"),  # no >=5 run anywhere -> row filtered out
    ]
    _write_documents(
        spark, tmp_path, [(d, t, "en", "web", len(t)) for d, t in docs]
    )
    got = {
        r["doc_id"]: (r["long_words"], r["n_long_words"])
        for r in regex_extract_long_words(spark, str(tmp_path)).collect()
    }
    want = {}
    for d, t in docs:
        words = re.findall(r"[a-z]{5,}", t)
        if words:
            want[d] = (" ".join(words), len(words))
    assert got == want
    assert want[0] == ("abcde bcdef xyzxyzxyzx", 3)
    assert 1 not in got


def test_resample_locf_null_lead_carry_and_override(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.timeseries import (
        resample_locf_fill,
    )

    T = lambda mo, d, h=0: datetime(2024, mo, d, h)  # noqa: E731
    _write_events(
        spark,
        tmp_path,
        [
            # user 100: two same-day events average, then a later
            # observation overrides the carry.
            (1, T(1, 3, 1), 100, "view", 1.0, ""),
            (2, T(1, 3, 2), 100, "view", 3.0, ""),
            (3, T(1, 5), 100, "view", 7.0, ""),
            # user 105: only event is OUTSIDE the January grid -> the
            # user still gets 30 grid rows, all NULL.
            (4, T(2, 2), 105, "view", 9.0, ""),
            # user 120: >= 110, excluded by the query's filter.
            (5, T(1, 4), 120, "view", 5.0, ""),
        ],
    )
    rows = resample_locf_fill(spark, str(tmp_path)).collect()
    got = {(r["user_id"], r["day"].isoformat()): r["filled_avg"] for r in rows}
    assert len(rows) == 60  # 2 users x 30 grid days; user 120 absent
    assert got[(100, "2024-01-01")] is None  # before first obs: NULL
    assert got[(100, "2024-01-02")] is None
    assert got[(100, "2024-01-03")] == 2.0  # same-day average
    assert got[(100, "2024-01-04")] == 2.0  # carried forward
    assert got[(100, "2024-01-05")] == 7.0  # observation overrides carry
    assert got[(100, "2024-01-30")] == 7.0  # carried to grid end
    assert all(got[(105, f"2024-01-{d:02d}")] is None for d in range(1, 31))


def test_try_cast_integer_literal_semantics_match_duckdb(spark, tmp_path):
    """Round-9 fix pin + round-10 ADVICE extension: DuckDB's bare
    try_cast coerces '3.5'->4, '3.0'->3 and '1e2'->100 where Spark's
    try_cast yields NULL, and Spark's try_cast TRIMS adjacent
    whitespace ('12\\n' -> 12) where the oracle guard rejects it.  The
    round-10 symmetric guard (same \\A..\\z-anchored regexp gating the
    cast in BOTH engines) must keep the NULL sets identical on exactly
    these divergent literals — including the Java-regex '$'-before-
    trailing-newline trap the \\z anchor exists for."""
    import duckdb

    from scats_transis_kinesis_spark.plans.registry import REGISTRY
    from scats_transis_kinesis_spark.plans.relational import (
        try_cast_dirty_data,
    )

    leads = [
        "3.5", "3.0", "1e2",          # DuckDB-coercible, Spark-NULL
        "007", "-5", "+3",            # integer literals: both parse
        "12abc", "hello", "",         # both NULL
        "99999999999",                # int32 overflow: both NULL
        "12\n", "3\t", "\t7",         # whitespace-adjacent: Spark's cast
                                      # would trim+parse; the symmetric
                                      # guard NULLs them in both engines
                                      # ('12\n' also traps Java's '$')
    ]
    _write_documents(
        spark,
        tmp_path,
        [
            (i, f"{lead} trailing words", "en", "s", 10)
            for i, lead in enumerate(leads)
        ],
    )
    got = {
        r["source"]: (r["n_docs"], r["n_numeric_leads"], r["n_unparseable"])
        for r in try_cast_dirty_data(spark, str(tmp_path)).collect()
    }
    assert got == {"s": (13, 3, 10)}  # only 007/-5/+3 count as numeric

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(REGISTRY["try_cast_dirty_data"].oracle).fetchall()
    }
    assert oracle == got


def test_ngram_contamination_boundary_and_distinct_counting(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.curation import (
        CONTAM_BENCH_DOCS,
        CONTAM_NGRAM,
        ngram_contamination_check,
    )

    assert CONTAM_NGRAM == 3 and CONTAM_BENCH_DOCS == 20
    docs = [
        (0, "w1 w2 w3 w4"),             # bench
        (1, "w2 w3 w4 w9"),             # bench
        (19, "w1 w2 w3 only-bench"),    # bench: boundary doc, NOT reported
        (20, "w1 w2 w3 zz"),            # corpus: shares 1 shingle, 1 bench doc
        (21, "w2 w3 w4 w2 w3 w4 qq"),   # corpus: dup shingle counts once,
                                        # hits BOTH bench docs
        (22, "aa bb cc dd"),            # corpus: clean -> absent
    ]
    _write_documents(
        spark, tmp_path, [(d, t, "en", "web", len(t)) for d, t in docs]
    )

    def shingles(t):
        w = t.split(" ")
        return {
            " ".join(w[i : i + CONTAM_NGRAM])
            for i in range(len(w) - CONTAM_NGRAM + 1)
        }

    bench = {d: shingles(t) for d, t in docs if d < CONTAM_BENCH_DOCS}
    want = {}
    for d, t in docs:
        if d < CONTAM_BENCH_DOCS:
            continue
        sh = shingles(t)
        shared = {s for s in sh if any(s in b for b in bench.values())}
        hit_docs = {bd for bd, b in bench.items() if b & sh}
        if shared:
            want[d] = (len(shared), len(hit_docs))
    got = {
        r["doc_id"]: (r["n_shared_ngrams"], r["n_bench_docs"])
        for r in ngram_contamination_check(spark, str(tmp_path)).collect()
    }
    assert got == want
    # Explicit hand numbers (the replay must agree — this guards the
    # replay itself against a degenerate corpus):
    assert want[20] == (1, 2)  # 'w1 w2 w3' once, in bench docs 0 AND 19
    assert want[21] == (1, 2)  # 'w2 w3 w4' once, in bench docs 0 AND 1
    assert 19 not in got and 22 not in got


def test_dq_constraint_audit_dup_arithmetic_and_null_fk(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.storage import (
        dq_constraint_audit,
    )

    D = lambda d: datetime(2024, 1, d)  # noqa: E731
    spark.createDataFrame(
        [
            (7, 1, "O", 10.0, D(1), "1-URGENT"),
            (7, 1, "O", 11.0, D(2), "1-URGENT"),   # dup orderkey (x3)
            (7, 2, "F", 12.0, D(3), "2-HIGH"),
            (8, None, "O", 13.0, D(4), "3-MEDIUM"),  # NULL custkey
            (9, 99, "O", 14.0, D(5), "4-NOT SPEC"),  # dangling FK
            (10, 99, "O", 15.0, D(6), "5-LOW"),      # same dangling key,
                                                     # counted PER ROW
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, "a", 0, 1.0, "BUILDING"), (2, "b", 0, 2.0, "MACHINERY")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(7, 1, 1, 1, 0.0), (7, 1, 1, 2, -2.0), (8, 1, 1, 1, 5.0)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    got = {
        r["check_name"]: r["violations"]
        for r in dq_constraint_audit(spark, str(tmp_path)).collect()
    }
    assert got == {
        "orders_null_custkey": 1,
        # 3 copies of orderkey 7 -> count - distinct = 2 violations
        "orders_dup_orderkey": 2,
        # NULL custkey never equi-matches -> the anti-join keeps it, and
        # the oracle's NOT EXISTS agrees; 99 dangles once PER ROW
        "orders_dangling_custkey": 3,
        # <= 0 includes the zero boundary
        "lineitem_nonpositive_qty": 2,
    }


def test_curriculum_mixture_cap_binding_and_hash_membership(spark, tmp_path):
    from scats_transis_kinesis_spark.plans.curation import (
        MIXTURE_WEIGHTS,
        curriculum_mixture_sample,
    )

    counts = {"en": 10, "zh": 4, "es": 4, "de": 3, "fr": 3, "xx": 7}
    rows, i = [], 0
    langs = []
    for lang, n in counts.items():
        for _ in range(n):
            rows.append((i, "t", lang, "web", 1))
            langs.append(lang)
            i += 1
    _write_documents(spark, tmp_path, rows)
    # cap = min(total/wt) = 20, binding for zh/es/de/fr (rate exactly
    # 1.0); en rate 0.6.
    cap = min(counts[g] / w for g, w in MIXTURE_WEIGHTS.items())
    assert cap == 20.0
    want = {}
    for lang, w in MIXTURE_WEIGHTS.items():
        rate = w * cap / counts[lang]
        kept = sum(
            1
            for d, g in enumerate(langs)
            if g == lang and _h32(str(d)) % 1_000_000 < rate * 1_000_000
        )
        want[lang] = (counts[lang], kept, round(rate, 6))
    got = {
        r["lang"]: (r["total_docs"], r["kept_docs"], r["keep_rate"])
        for r in curriculum_mixture_sample(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert "xx" not in got  # unweighted language excluded entirely
    # rate exactly 1.0: strict-< against 1e6 keeps EVERY doc (h%1e6
    # is always < 1e6) — the boundary cannot drop one.
    for g in ("zh", "es", "de", "fr"):
        assert want[g][1] == counts[g]
    assert 0 < want["en"][1] < counts["en"]  # 0.6 rate genuinely samples
