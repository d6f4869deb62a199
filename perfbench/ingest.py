"""``ingest_one_capture``: the paper's ETL at full volume, one capture file.

Closed loop, one client: each pass loads the whole capture with
``spark.read.format("transis_xml")``, runs ``scats_records`` and hands
the result to ``KinesisBatchWriter.write_batch`` with the counting
client, which throttles a seeded share of records on their first
attempt.  Passes repeat while they fit in the run's seconds.  A record's
latency runs from its pass's load call to the moment the sink accepted
it; the throughput is all accepted records over the summed pass times,
each from load to the end of its last ``put_records`` call.  One file
means one input split, the single-task case the ROADMAP names.

The traced run also times each stage from a materialised copy of its
input (``localCheckpoint``) to the ``noop`` sink, in passes of its own,
so a stage's time is its own and not a difference of cumulative timings.
Its engine counters and CPU times are those of the last end-to-end pass.
"""

from __future__ import annotations

import functools
import os
import time

from . import harness
from .capture import digest, make_capture, wire
from .sink import CountingKinesisClient, delivery_errors, read_sink_log

# About 23,000 records, about 9 s a pass on 4 cores, so a 10 s run is one
# pass.  Shorter passes spread more from run to run, because fixed
# per-job costs weigh more.
N_DOCS = 120
SITES_PER_DOC = 200
# Warm-up runs on a prefix of the capture: the first pass pays one-off
# costs (JVM classes, Python workers, code generation) whatever its size.
WARMUP_DOCS = 15
THROTTLE_SHARE = 0.01
BACKOFF_S = 0.005
STREAM_NAME = "perfbench-ingest"


def _writer(log_dir: str, seed: int):
    from scats_transis_kinesis_spark.streaming.kinesis_sink import KinesisBatchWriter

    os.makedirs(log_dir)
    factory = functools.partial(CountingKinesisClient, log_dir, THROTTLE_SHARE, seed)
    return KinesisBatchWriter(client_factory=factory, stream_name=STREAM_NAME, backoff_s=BACKOFF_S)


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Ingest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_docs = ctx.scaled(N_DOCS)
        self.passes = 0
        self.attempted = self.failed = 0

    def make_inputs(self, rep: int):
        capture = make_capture(self.ctx.seed, self.n_docs, SITES_PER_DOC)
        base = os.path.join(self.ctx.run_dir, f"capture-{rep}")
        paths = {}
        for name, docs in (("full", capture.docs), ("warmup", capture.docs[:WARMUP_DOCS])):
            paths[name] = os.path.join(base, name, "capture-000.xml0")
            os.makedirs(os.path.dirname(paths[name]))
            with open(paths[name], "wb") as f:
                f.write(wire(docs))
        return capture, paths

    def _check(self, expected: list[str], log) -> None:
        """Exactly-once check of one pass against the generator."""
        self.attempted += len(expected)
        self.failed += min(delivery_errors(expected, digest(expected), log), len(expected))

    def e2e_pass(self, path: str, expected: list[str]):
        """One load → ``put_records`` pass.  Returns the wall-clock
        (start, end of the last ``put_records`` call) and the sink log."""
        from scats_transis_kinesis_spark.streaming.pipeline import scats_records

        log_dir = os.path.join(self.ctx.run_dir, f"sink-{self.passes}")
        writer = _writer(log_dir, self.ctx.seed)
        t0 = time.time()
        docs = self.spark.read.format("transis_xml").load(path)
        writer.write_batch(scats_records(docs), self.passes)
        self.passes += 1
        log = read_sink_log(log_dir)
        self._check(expected, log)
        return (t0, log.last_call_t), log

    def staged_pass(self) -> dict[str, float]:
        from scats_transis_kinesis_spark.operators.envelope import to_kinesis_envelope
        from scats_transis_kinesis_spark.operators.flatten import explode_messages
        from scats_transis_kinesis_spark.operators.projection import (
            assert_no_error_documents,
            non_empty_responses,
            project_detector_count_record,
        )
        from scats_transis_kinesis_spark.sources.xml import parse_transis_documents

        out: dict[str, float] = {}
        docs = self.spark.read.format("transis_xml").load(self.paths["full"])
        out["sources.datasource.split_s"] = _noop(docs)
        out["sources.datasource.scan_tasks"] = docs.rdd.getNumPartitions()
        docs = docs.localCheckpoint(eager=True)
        out["sources.xml.parse_s"] = _noop(parse_transis_documents(docs))
        parsed = parse_transis_documents(docs).localCheckpoint(eager=True)
        exploded = explode_messages(non_empty_responses(assert_no_error_documents(parsed)))
        out["operators.filter_explode_s"] = _noop(exploded)
        exploded = exploded.localCheckpoint(eager=True)
        out["operators.projection.project_s"] = _noop(project_detector_count_record(exploded))
        projected = project_detector_count_record(exploded).localCheckpoint(eager=True)
        out["operators.envelope.envelope_s"] = _noop(to_kinesis_envelope(projected))
        log_dir = os.path.join(self.ctx.run_dir, f"sink-{self.passes}")
        writer = _writer(log_dir, self.ctx.seed)
        t0 = time.perf_counter()
        writer.write_batch(projected, self.passes)
        out["streaming.kinesis_sink.write_s"] = time.perf_counter() - t0
        self.passes += 1
        self._check(self.expected, read_sink_log(log_dir))
        out["operators.docs_in"] = parsed.count()
        out["operators.empty_docs"] = out["operators.docs_in"] - non_empty_responses(parsed).count()
        out["operators.records_out"] = exploded.count()
        return out

    def run(self, result) -> None:
        setup = harness.repeated_setup(self.ctx.conf(), self.make_inputs)
        self.spark = setup.spark
        capture, self.paths = setup.inputs
        self.expected = capture.records()
        t0 = time.perf_counter()
        self.e2e_pass(self.paths["warmup"], capture.records(WARMUP_DOCS))
        warmup_s = time.perf_counter() - t0
        result.setup(setup, warmup_s)

        # Another pass only when it should end within the run's seconds.
        start = time.perf_counter()
        records = seconds = 0.0
        latencies_ms: list[float] = []
        stages = []
        timed = 0
        while True:
            if self.ctx.trace:
                stages.append(self.staged_pass())
            cpu0 = harness.cpu_s(self.spark) if self.ctx.trace else None
            window, log = self.e2e_pass(self.paths["full"], self.expected)
            if cpu0 is not None:
                cpu = harness.cpu_delta(cpu0, harness.cpu_s(self.spark))
            records += len(log.accepted)
            seconds += window[1] - window[0]
            latencies_ms += [(t - window[0]) * 1000.0 for t, _ in log.accepted]
            timed += 1
            elapsed = time.perf_counter() - start
            if elapsed + elapsed / timed > self.ctx.seconds:
                break
        result.samples = latencies_ms
        result.metric("latency_p50_ms", harness.median(latencies_ms))
        result.metric("throughput_per_s", records / seconds)
        result.detail("ingest_records_per_s", records / seconds, "1/s")
        result.detail("ingest_record_latency_p90_ms", harness.quantile(latencies_ms, 0.9), "ms")
        for name in stages[0] if stages else ():
            unit = "s" if name.endswith("_s") else "count"
            result.detail(name, harness.median(s[name] for s in stages), unit)
        result.sink_counts(log, BACKOFF_S)
        result.finish(self.spark, self.attempted, self.failed)
        if self.ctx.trace:
            result.traced({**cpu, **harness.engine_counters(self.spark, [window])})
