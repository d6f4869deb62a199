"""``stream_open_loop``: freshness of the running SCATS stream.

An open-loop generator thread lands one snapshot document per file in a
watched directory on a fixed schedule (``RATE_DOCS_PER_S``), by atomic
rename under monotonic names, whether or not the stream keeps up.
``run_scats_pipeline`` consumes the directory through
``readStream.format("transis_xml")`` with the default trigger, which
drains everything landed since the last micro-batch, and writes through
``KinesisBatchWriter`` with the counting client and no throttling.  A
``JobAuditListener`` is attached.

A document's latency runs from its due landing time to the moment the
sink accepted its last record, so a stall also delays the documents due
after it.  Documents that yield no records (empty snapshots) have no
latency sample.  The throughput is the measured documents' records over
the time from the first one's due landing to the last record accepted.
The traced run's engine counters cover the measured micro-batches, each
from its trigger's start to its end, and its CPU times the whole
measured phase.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

from . import harness
from .capture import make_capture
from .sink import CountingKinesisClient, read_sink_log

SITES_PER_DOC = 60
# Twelve documents a second.  On 4 cores a micro-batch of this stream
# takes about 0.4 s, almost all of it fixed cost per trigger, so each
# trigger drains about five documents and the stream keeps up with room
# to spare.  A 10 s run lands 120 documents: enough latency samples that
# more than ten lie beyond p90.
RATE_DOCS_PER_S = 12.0
# Latency settles after about 50 documents (the JIT warming the batch path).
WARMUP_DOCS = 60
STREAM_NAME = "perfbench-stream"
PROGRESS_PHASES = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "latest_offset_ms_p50": "latestOffset",
    "get_batch_ms_p50": "getBatch",
    "query_planning_ms_p50": "queryPlanning",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}


class Lander(threading.Thread):
    """Lands documents on a fixed schedule: document ``k`` is due at
    ``start + k / rate`` whatever happened to the ones before it."""

    def __init__(self, docs: list[str], first_index: int, watch: str, staging: str) -> None:
        super().__init__(daemon=True)
        self.docs, self.first_index = docs, first_index
        self.watch, self.staging = watch, staging
        self.due: list[float] = []
        self.late_s: list[float] = []

    def run(self) -> None:
        mono0, wall0 = time.monotonic(), time.time()
        for k, doc in enumerate(self.docs):
            offset = k / RATE_DOCS_PER_S
            delay = mono0 + offset - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            name = f"{self.first_index + k:08d}.xml0"
            staged = os.path.join(self.staging, name)
            with open(staged, "wb") as f:
                f.write(doc.encode("utf-8") + b"\x00")
            os.replace(staged, os.path.join(self.watch, name))
            self.due.append(wall0 + offset)
            self.late_s.append(time.monotonic() - mono0 - offset)


class Stream:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_docs = max(1, int(RATE_DOCS_PER_S * ctx.seconds))
        self.warmup_docs = ctx.scaled(WARMUP_DOCS)

    def make_inputs(self, rep: int):
        base = os.path.join(self.ctx.run_dir, f"stream-{rep}")
        dirs = {k: os.path.join(base, k) for k in ("watch", "staging", "checkpoint", "sink")}
        for k in ("watch", "staging", "sink"):
            os.makedirs(dirs[k])
        capture = make_capture(self.ctx.seed, self.warmup_docs + self.n_docs, SITES_PER_DOC)
        return capture, dirs

    def _land(self, docs, first_index: int) -> Lander:
        lander = Lander(docs, first_index, self.dirs["watch"], self.dirs["staging"])
        lander.start()
        lander.join()
        return lander

    def _wait_consumed(self, query, n_docs: int, timeout_s: float = 120.0) -> None:
        """Block until finished micro-batches have read ``n_docs``
        documents in all; the source yields one row per document."""
        deadline = time.monotonic() + timeout_s
        seen = None
        while time.monotonic() < deadline:
            if query.exception() is not None:
                raise query.exception()
            p = query.lastProgress
            if p is not None and p.batchId != seen:
                seen = p.batchId
                if sum(q.numInputRows for q in query.recentProgress) >= n_docs:
                    return
            time.sleep(0.02)
        raise TimeoutError(f"stream did not read {n_docs} documents in {timeout_s} s")

    def run(self, result) -> None:
        from scats_transis_kinesis_spark.streaming.audit import JobAuditListener
        from scats_transis_kinesis_spark.streaming.kinesis_sink import KinesisBatchWriter
        from scats_transis_kinesis_spark.streaming.pipeline import run_scats_pipeline

        conf = self.ctx.conf({"spark.sql.streaming.numRecentProgressUpdates": "10000"})
        setup = harness.repeated_setup(conf, self.make_inputs)
        spark = setup.spark
        capture, self.dirs = setup.inputs
        listener = JobAuditListener(job_name=STREAM_NAME)
        spark.streams.addListener(listener)
        factory = functools.partial(CountingKinesisClient, self.dirs["sink"])
        writer = KinesisBatchWriter(client_factory=factory, stream_name=STREAM_NAME)

        t0 = time.perf_counter()
        docs = spark.readStream.format("transis_xml").load(self.dirs["watch"])
        query = run_scats_pipeline(docs, writer, self.dirs["checkpoint"])
        self._land(capture.docs[: self.warmup_docs], 0)
        self._wait_consumed(query, self.warmup_docs)
        warmup_s = time.perf_counter() - t0
        result.setup(setup, warmup_s)
        warm_batch = query.lastProgress.batchId

        cpu0 = harness.cpu_s(spark) if self.ctx.trace else None
        lander = self._land(capture.docs[self.warmup_docs :], self.warmup_docs)
        gen_end = time.time()
        self._wait_consumed(query, self.warmup_docs + self.n_docs)
        query.stop()
        if cpu0 is not None:
            cpu = harness.cpu_delta(cpu0, harness.cpu_s(spark))

        log = read_sink_log(self.dirs["sink"])
        accepted_at: dict[str, list[float]] = {}
        for t, rec in log.accepted:
            accepted_at.setdefault(rec, []).append(t)
        failed = int(log.digest() != capture.digest())
        latencies_ms, done = [], []
        measured = capture.expected[self.warmup_docs :]
        for recs, due in zip(measured, lander.due):
            times = [accepted_at.get(r, []) for r in recs]
            if any(len(t) != 1 for t in times):
                failed += 1
            elif recs:
                done.append(max(t[0] for t in times))
                latencies_ms.append((done[-1] - due) * 1000.0)
        result.samples = latencies_ms
        n_records = sum(len(recs) for recs in measured)
        result.metric("latency_p50_ms", harness.median(latencies_ms))
        result.metric("throughput_per_s", n_records / (max(done) - lander.due[0]))
        result.detail("stream_latency_p50_ms", harness.median(latencies_ms), "ms")
        result.detail("stream_latency_p90_ms", harness.quantile(latencies_ms, 0.9), "ms")

        batches = [
            p for p in query.recentProgress if p.batchId > warm_batch and p.numInputRows > 0
        ]
        status = self._status_events(listener, warm_batch, len(batches))
        failed += status != len(batches)
        result.detail("streaming.pipeline.batches", len(batches), "count")
        result.detail(
            "streaming.pipeline.rows_per_batch_p50",
            harness.median(p.numInputRows for p in batches),
            "count",
        )
        for name, phase in PROGRESS_PHASES.items():
            values = [p.durationMs.get(phase, 0) for p in batches]
            result.detail(f"streaming.pipeline.{name}", harness.median(values), "ms")
        result.detail("streaming.pipeline.backlog_docs_end", sum(d > gen_end for d in done), "count")
        result.detail("stream.generator_late_ms_max", max(lander.late_s) * 1000.0, "ms")
        result.detail("streaming.audit.status_events", status, "count")
        result.sink_counts(log, writer.backoff_s)
        spark.streams.removeListener(listener)
        result.finish(spark, self.n_docs, min(failed, self.n_docs))
        if self.ctx.trace:
            windows = []
            for p in batches:
                t = harness.epoch_s(p.timestamp)
                windows.append((t, t + p.durationMs["triggerExecution"] / 1000.0))
            result.traced({**cpu, **harness.engine_counters(spark, windows)})

    @staticmethod
    def _status_events(listener, warm_batch: int, want: int, timeout_s: float = 10.0) -> int:
        """Status events the audit listener logged for the measured
        batches; listener events arrive asynchronously, so wait for them."""
        deadline = time.monotonic() + timeout_s
        while True:
            n = 0
            for ev in listener.log.by_kind("status"):
                stats = json.loads(ev.status_desc)
                n += stats["batchId"] > warm_batch and stats["numInputRows"] > 0
            if n >= want or time.monotonic() > deadline:
                return n
            time.sleep(0.05)
