#!/usr/bin/env python3
"""The repository's benchmark: SCATS ingest, stream freshness and an
analytics mix, each on ``local[<cores>]`` in one process.

    python3 perfbench/run.py --workload ingest_one_capture --seed 1 --seconds 10 --trace 0

Run from the repository root.  It prints one line per figure, then as
its last line a JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``, the same names on every workload.
Metric names and units come from ``BENCHMARK.json``.  The exit code is 1 when an output check failed and
2 when the engine is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_one_capture", "stream_open_loop", "analytics_mix")


@dataclass
class Context:
    run_dir: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    tiny: bool = False

    def scaled(self, n: int) -> int:
        """``n``, or a tenth of it for the test-size smoke runs."""
        return max(1, n // 10) if self.tiny else n

    def conf(self, extra: dict[str, str] | None = None) -> dict[str, str]:
        from perfbench import harness

        return harness.session_conf(self.run_dir, self.trace, extra)


class Result:
    """What one run measured.

    ``metrics`` holds the figures named in ``BENCHMARK.json``, which every
    workload reports alike; ``details`` holds each workload's own figures
    with their units (its stage timings, sink counts, stream progress,
    per-query times).  The report lines and the trace file carry both;
    the result line only the former."""

    def __init__(self, workload: str, trace: bool, cpus: int) -> None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        self.layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.workload, self.trace, self.cpus = workload, trace, cpus
        self.metrics: dict[str, float] = {}
        self.details: dict[str, tuple[float, str]] = {}
        self.samples: list[float] = []  # the values behind the latency median
        self.attempted = self.failed = 0

    def metric(self, name: str, value: float) -> None:
        if name not in self.e2e_units and name not in self.layer_units:
            raise KeyError(f"metric {name} is not declared in BENCHMARK.json")
        self.metrics[name] = float(value)

    def detail(self, name: str, value: float, unit: str) -> None:
        self.details[name] = (float(value), unit)

    def traced(self, values: dict[str, float]) -> None:
        """Engine counters and CPU times of a traced run: the declared
        ones as metrics, the rest as details."""
        for name, value in values.items():
            if name in self.layer_units:
                self.metric(name, value)
            else:
                unit = "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"
                self.detail(name, value, unit)

    def setup(self, setup, warmup_s: float) -> None:
        self.metric("setup_s", setup.seconds + warmup_s)
        self.metric("session.get_session_s", setup.get_session_s)
        self.metric("warmup_s", warmup_s)

    def sink_counts(self, log, backoff_s: float) -> None:
        p = "streaming.kinesis_sink."
        for name in ("put_calls", "records_sent", "bytes_sent", "throttled", "retried", "failed"):
            self.detail(p + name, getattr(log, name), "bytes" if name == "bytes_sent" else "count")
        self.detail(p + "backoff_s_total", log.calls_with_throttle * backoff_s, "s")
        self.detail(p + "records_per_call", log.records_sent / max(1, log.put_calls), "count")

    def finish(self, spark, attempted: int, failed: int) -> None:
        from perfbench.harness import peak_rss_mb

        self.metric("peak_rss_mb", peak_rss_mb(spark))
        self.attempted, self.failed = attempted, failed

    def shown(self) -> dict[str, float]:
        """The metrics of the result line: every end-to-end metric, or
        with tracing every per-layer one, all of which a run must have."""
        units = self.layer_units if self.trace else self.e2e_units
        missing = sorted(set(units) - set(self.metrics))
        if missing:
            raise RuntimeError(f"{self.workload} measured no {', '.join(missing)}")
        return {k: self.metrics[k] for k in units}

    def line(self) -> str:
        units = self.layer_units if self.trace else self.e2e_units
        return json.dumps(
            {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in self.shown().items()},
            }
        )

    def report(self) -> list[str]:
        head = (
            f"# {self.workload} trace={int(self.trace)} cores={self.cpus} "
            f"samples={len(self.samples)}"
        )
        units = {**self.e2e_units, **self.layer_units}
        rows = [f"{k} {v:.6g} {units[k]}" for k, v in self.metrics.items() if k in self.e2e_units]
        share = self.failed / max(1, self.attempted)
        rows.append(f"failed_share {share:.6g} ratio ({self.failed} of {self.attempted})")
        rows += [f"{k} {v:.6g} {u}" for k, (v, u) in self.details.items()]
        if self.trace:
            rows += [f"{k} {v:.6g} {units[k]}" for k, v in self.metrics.items() if k in self.layer_units]
        return [head] + rows


def _stop_jvm() -> None:
    """Stop Spark and wait for the driver JVM this process launched."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> Result:
    sys.path.insert(0, ROOT)
    from perfbench import harness

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = os.path.join(base, f"run-{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    cpus = harness.pin_environment(run_dir, ROOT)
    ctx = Context(run_dir, seed, seconds, trace, cpus, tiny)
    result = Result(workload, trace, cpus)
    if workload == "ingest_one_capture":
        from perfbench.ingest import Ingest as W
    elif workload == "stream_open_loop":
        from perfbench.stream import Stream as W
    else:
        from perfbench.analytics import Analytics as W
    try:
        W(ctx).run(result)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if trace:
        with open(os.path.join(base, f"trace-{workload}.json"), "w") as f:
            details = {k: {"value": v, "unit": u} for k, (v, u) in result.details.items()}
            json.dump({"seed": seed, "metrics": result.metrics, "details": details}, f, indent=1)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "scats_transis_kinesis_spark")):
        print(f"perfbench: no scats_transis_kinesis_spark package under {ROOT}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for row in result.report():
        print(row)
    print(result.line(), flush=True)
    return 0 if result.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
