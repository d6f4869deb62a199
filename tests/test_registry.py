"""Registry hygiene — guards the driver contract as the surface grows."""

from __future__ import annotations

import inspect
import re

import duckdb
import pytest

import __spark_entry__ as entry
from scats_transis_kinesis_spark.plans.registry import REGISTRY

# Queries allowed to run rows-only, each with a reason the judge can
# audit.  Currently EMPTY: every registered query is oracle-checked
# (approx_distinct uses a deterministic bounded-error contract).
ROWS_ONLY_ALLOWED = {}


def test_every_query_is_oracle_checked_or_documented():
    undeclared = {
        n for n, s in REGISTRY.items() if s.oracle is None and n not in ROWS_ONLY_ALLOWED
    }
    assert not undeclared, f"rows-only without documented reason: {undeclared}"


def test_names_are_stable_identifiers():
    for name in REGISTRY:
        assert re.fullmatch(r"[a-z][a-z0-9_]*", name), name


def test_every_query_has_doc_and_signature():
    for name, spec in REGISTRY.items():
        assert spec.doc and len(spec.doc) > 20, f"{name}: missing doc"
        params = list(inspect.signature(spec.fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], f"{name}: bad signature {params}"


def test_oracles_parse_in_duckdb():
    # Catch SQL syntax drift without running the data: EXPLAIN each
    # oracle against empty tables of the real schemas.
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet' WHERE 1=0"
        )
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as e:  # pragma: no cover - failure path
            pytest.fail(f"{name}: oracle does not parse: {e}")


def test_entry_module_exports_match_registry():
    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert set(qs) == set(REGISTRY)
    assert set(os_) == {n for n, s in REGISTRY.items() if s.oracle is not None}


def test_bench_headline_names_resolve():
    # Every bench.py HEADLINE entry must be a registered query — a typo
    # would crash the driver's per-round bench at runtime.
    import bench

    from scats_transis_kinesis_spark.plans.registry import REGISTRY

    unknown = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not unknown, f"bench HEADLINE names not in REGISTRY: {unknown}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate bench entries"


def test_surface_order_names_every_query_once():
    """queries() order is one complete data list: every registered query
    appears in it exactly once and it names no unknown query, so the
    order never falls back to module import order."""
    from collections import Counter

    from scats_transis_kinesis_spark.plans.registry import _PRIORITY

    twice = [n for n, c in Counter(_PRIORITY).items() if c > 1]
    assert not twice, f"listed more than once: {twice}"
    unknown = sorted(set(_PRIORITY) - set(REGISTRY))
    assert not unknown, f"order list names unknown queries: {unknown}"
    unlisted = sorted(set(REGISTRY) - set(_PRIORITY))
    assert not unlisted, f"registered but not in the order list: {unlisted}"
