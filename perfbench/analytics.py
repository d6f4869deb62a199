"""``analytics_mix``: registry queries over seeded tables.

The analytic surface beside the ETL.  It never touches the SCATS source
or sink, so an ingest change should leave it unchanged.  Each query is
built with ``REGISTRY[name].fn`` and materialised with the ``noop`` sink,
with the cache cleared before it.  A query's latency is its build plus
execute time (light queries: the median of three runs), and the
throughput is the mix's queries over the sum of their latencies.
Heavy queries set the pass time, so the throughput, and light ones,
bound by driver work, set the median latency, so kernel gains and
driver-overhead gains each show in their own metric.

The warm-up pass collects every result and compares it with the query's
DuckDB oracle through ``tools/check_correctness.py``'s canonical form;
the DuckDB side is outside the timed region and outside set-up.  The
traced run's engine counters and CPU times are those of the last timed
pass, its jobs assigned to queries by submission time.
"""

from __future__ import annotations

import os
import time

from . import harness
from .tables import write_tables

# The ROADMAP's 2^32 pair-key carry-over and two of the slowest
# queries: an iterative graph query and an LSH kernel.
HEAVY = (
    "fuzzy_match_blocked",
    "pagerank_nation_trade",
    "dedup_minhash_lsh",
)
# One per operator family, each bound by driver work.
LIGHT = (
    "flagship_window_traffic",
    "q1_pricing_summary",
    "q3_top_revenue",
    "window_order_ranks",
    # Sessions.  sessionize_users is left out: it splits sessions on
    # whole-second gaps while its oracle uses exact ones, so it fails on
    # the about one seed in twenty with a gap within a second of 30 min.
    "session_window_native",
    "text_quality",
    "funnel_view_click_purchase",
    "dedup_exact",
)
QUERIES = HEAVY + LIGHT
# Light queries run three times in a row and count with their median:
# each takes 0.3-0.5 s, so one run's jitter would move the median query.
LIGHT_REPS = 3


def oracle_mismatch(con, oracle: str, cols: list[str], rows: list[tuple]) -> str | None:
    """Compare Spark rows with the DuckDB oracle in the gate's canonical form."""
    from tools.check_correctness import canon_rows

    res = con.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if len(rows) != len(orows):
        return f"rowcount spark={len(rows)} oracle={len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"schema spark={sorted(cols)} oracle={sorted(ocols)}"
    if canon_rows(cols, rows) != canon_rows(ocols, orows):
        return "values differ"
    return None


class Analytics:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.queries = LIGHT[:3] if ctx.tiny else QUERIES

    def make_inputs(self, rep: int):
        out = os.path.join(self.ctx.run_dir, f"tables-{rep}")
        return out, write_tables(self.ctx.seed, out)

    def warmup(self, spark, data_dir: str) -> tuple[float, dict[str, object]]:
        """Run every query once, collecting its rows; return the Spark
        time and, per query, (columns, rows) or the exception it raised,
        for the oracle check."""
        from scats_transis_kinesis_spark.plans.registry import REGISTRY

        results: dict[str, object] = {}
        spent = 0.0
        for name in self.queries:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                df = REGISTRY[name].fn(spark, data_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failing query is counted, not fatal
                results[name] = e
            spent += time.perf_counter() - t0
        return spent, results

    def check(self, data_dir: str, tables: list[str], results) -> set[str]:
        import duckdb

        from scats_transis_kinesis_spark.plans.registry import REGISTRY

        bad = set()
        with duckdb.connect() as con:
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            for name, res in results.items():
                problem = str(res)[:300] if isinstance(res, Exception) else oracle_mismatch(
                    con, REGISTRY[name].oracle, *res
                )
                if problem:
                    print(f"FAIL {name}: {problem}")
                    bad.add(name)
        return bad

    def timed_pass(self, spark, data_dir: str) -> tuple[dict, set[str]]:
        """One pass over the mix; ``times[q]`` is (build s, execute s,
        wall start, wall end) of the query's median run."""
        from scats_transis_kinesis_spark.plans.registry import REGISTRY

        times: dict[str, tuple[float, float, float, float]] = {}
        bad = set()
        for name in self.queries:
            runs = []
            for _ in range(LIGHT_REPS if name in LIGHT else 1):
                spark.catalog.clearCache()
                w0 = time.time()
                t0 = time.perf_counter()
                try:
                    df = REGISTRY[name].fn(spark, data_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    print(f"FAIL {name}: {str(e)[:300]}")
                    bad.add(name)
                    break
                t2 = time.perf_counter()
                runs.append((t1 - t0, t2 - t1, w0, w0 + (t2 - t0)))
            else:
                times[name] = sorted(runs, key=lambda r: r[0] + r[1])[len(runs) // 2]
        return times, bad

    def run(self, result) -> None:
        setup = harness.repeated_setup(self.ctx.conf(), self.make_inputs)
        spark = setup.spark
        data_dir, tables = setup.inputs
        warmup_s, results = self.warmup(spark, data_dir)
        result.setup(setup, warmup_s)
        bad = self.check(data_dir, tables, results)

        # Another pass only when it should end within the run's seconds:
        # a pass is longer than the run, and a second one would add a
        # whole pass to the run's length.
        start = time.perf_counter()
        passes = []
        while True:
            cpu0 = harness.cpu_s(spark) if self.ctx.trace else None
            times, failed = self.timed_pass(spark, data_dir)
            if cpu0 is not None:
                cpu = harness.cpu_delta(cpu0, harness.cpu_s(spark))
            passes.append(times)
            bad |= failed
            elapsed = time.perf_counter() - start
            if elapsed + elapsed / len(passes) > self.ctx.seconds:
                break
        per_query = {
            q: harness.median(p[q][0] + p[q][1] for p in passes)
            for q in self.queries
            if all(q in p for p in passes)
        }
        totals = [sum(b + e for b, e, _, _ in p.values()) for p in passes]
        result.samples = list(per_query.values())
        result.metric("latency_p50_ms", harness.median(per_query.values()) * 1000.0)
        result.metric("throughput_per_s", len(self.queries) / harness.median(totals))
        result.detail("analytics_total_s", harness.median(totals), "s")
        result.detail("analytics_query_p50_s", harness.median(per_query.values()), "s")
        last = passes[-1]
        result.detail("plans.build_s", sum(v[0] for v in last.values()), "s")
        result.detail("plans.execute_s", sum(v[1] for v in last.values()), "s")
        for q, s in per_query.items():
            result.detail(f"analytics.{q}_s", s, "s")
        result.finish(spark, len(self.queries), len(bad))
        if self.ctx.trace:
            windows = [(v[2], v[3]) for v in last.values()]
            result.traced({**cpu, **harness.engine_counters(spark, windows)})
