"""Brute-force parity for SymSpell deletion-neighborhood blocking.

``customer_match_pairs`` claims the compound block (exact nation AND a
shared deletion-1 key) is LOSSLESS for levenshtein <= 1 within a
nation: every such pair must share a block key.  Randomized corpus of
short names with planted 1-edit variants (substitution, deletion,
insertion, and exact duplicates) vs an unfiltered all-pairs
levenshtein in Python."""

from __future__ import annotations

import random


def _lev1(a: str, b: str) -> bool:
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    # classic DP, small strings only
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
        prev = cur
    return prev[lb] <= 1


def test_deletion_blocking_is_lossless_for_lev1(spark, tmp_path):
    rng = random.Random(5)
    alphabet = "abcdef"
    names = []
    for i in range(30):
        base = "".join(rng.choice(alphabet) for _ in range(rng.randint(4, 8)))
        names.append(base)
        kind = i % 4
        if kind == 0:  # substitution
            p = rng.randrange(len(base))
            names.append(base[:p] + rng.choice(alphabet) + base[p + 1 :])
        elif kind == 1:  # deletion
            p = rng.randrange(len(base))
            names.append(base[:p] + base[p + 1 :])
        elif kind == 2:  # insertion
            p = rng.randrange(len(base) + 1)
            names.append(base[:p] + rng.choice(alphabet) + base[p:])
        else:  # exact duplicate
            names.append(base)
    # nation per PAIR (names appends base+variant together), so planted
    # pairs share it while half the cross pairs are nation-blocked.
    rows = [
        (i + 1, nm, (i // 2) % 2 + 1, 0.0, "BUILDING")
        for i, nm in enumerate(names)
    ]
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long, "
        "c_acctbal double, c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")

    expect = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            if a[2] == b[2] and _lev1(a[1], b[1]):
                expect.add((a[0], b[0]))
    assert expect, "fixture must plant matching pairs"

    from scats_transis_kinesis_spark.plans.dedup import (
        customer_match_pairs,
    )

    got = {
        (r["id_a"], r["id_b"])
        for r in customer_match_pairs(spark, str(tmp_path)).collect()
    }
    assert got == expect


def test_fuzzy_match_blocked_ids_past_2_pow_32(spark, tmp_path):
    """``fuzzy_match_blocked`` keeps pairs whose custkeys do not fit 32
    bits (TPC-H custkeys pass 2^32 above SF ~28.6k): ids straddling the
    boundary, names within edit distance 1, against all pairs."""
    big = 1 << 32
    rows = [
        (big - 1, "smith"),
        (big, "smyth"),
        (big + 1, "smit"),
        (2 * big + 5, "smiths"),
        (3 * big, "jones"),
        (7, "jone"),
        (big + 9, "brown"),
        (5 * big + 3, "brawn"),
    ]
    spark.createDataFrame(
        [(i, nm, 1, 0.0, "BUILDING") for i, nm in rows],
        "c_custkey long, c_name string, c_nationkey long, "
        "c_acctbal double, c_mktsegment string",
    ).write.parquet(f"{tmp_path}/customer.parquet")

    expect = {
        (min(a[0], b[0]), max(a[0], b[0]), int(a[1] != b[1]))
        for i, a in enumerate(rows)
        for b in rows[i + 1 :]
        if _lev1(a[1], b[1])
    }
    assert len(expect) >= 4 and any(a >= big and b >= big for a, b, _ in expect)

    from scats_transis_kinesis_spark.plans.dedup import (
        fuzzy_match_blocked,
    )

    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in fuzzy_match_blocked(spark, str(tmp_path)).collect()
    }
    assert got == expect
