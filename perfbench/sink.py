"""Counting, throttling Kinesis client and the reader for its logs.

``KinesisBatchWriter`` builds one client per partition inside the Python
workers (``client_factory=``), so the client cannot hand counts back in
memory.  Each client appends to its own file under a log directory:

- one ``C`` line per ``put_records`` call: start and end wall time,
  records, bytes, records throttled, records that were being retried,
  and records that failed for good;
- one ``A`` line per accepted record: accept wall time and the record's
  ``Data`` as text.

The client throttles a fixed, seeded share of records on their first
attempt only, so the writer's single subset retry always succeeds.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

from scats_transis_kinesis_spark.streaming.kinesis_sink import THROTTLE_ERROR

from .capture import canonical, digest


class CountingKinesisClient:
    """A ``put_records`` endpoint that logs what it accepts; pass it to
    ``KinesisBatchWriter`` through ``client_factory``."""

    def __init__(self, log_dir: str, throttle_share: float = 0.0, seed: int = 0) -> None:
        self.path = os.path.join(log_dir, f"client-{os.getpid()}-{uuid.uuid4().hex}.log")
        self.throttle_share = throttle_share
        self.salt = seed.to_bytes(8, "big", signed=True)
        self._throttled: set[bytes] = set()

    def _throttle_first(self, data: bytes) -> bool:
        h = hashlib.blake2b(self.salt + data, digest_size=8).digest()
        return int.from_bytes(h, "big") < self.throttle_share * (1 << 64)

    def put_records(self, StreamName: str, Records: list[dict]) -> dict:  # noqa: N803
        t0 = time.time()
        entries = []
        accepted = []
        n_bytes = n_throttled = n_retried = 0
        for rec in Records:
            data = bytes(rec["Data"])
            n_bytes += len(data)
            key = hashlib.blake2b(data, digest_size=16).digest()
            if key in self._throttled:
                n_retried += 1
            elif self.throttle_share and self._throttle_first(data):
                self._throttled.add(key)
                n_throttled += 1
                entries.append({"ErrorCode": THROTTLE_ERROR, "ErrorMessage": "throttled"})
                continue
            accepted.append(data)
            entries.append({"SequenceNumber": str(len(accepted)), "ShardId": "shard-0"})
        t1 = time.time()
        # Only first attempts are throttled, so no record fails for good.
        lines = [f"C\t{t0!r}\t{t1!r}\t{len(Records)}\t{n_bytes}\t{n_throttled}\t{n_retried}\t0\n"]
        lines += [f"A\t{t1!r}\t{d.decode('utf-8')}\n" for d in accepted]
        with open(self.path, "a", encoding="utf-8") as f:
            f.write("".join(lines))
        return {"FailedRecordCount": n_throttled, "Records": entries}


@dataclass
class SinkLog:
    """Everything the clients under one log directory recorded."""

    put_calls: int = 0
    records_sent: int = 0
    bytes_sent: int = 0
    throttled: int = 0
    retried: int = 0
    failed: int = 0
    calls_with_throttle: int = 0
    last_call_t: float = 0.0
    accepted: list[tuple[float, str]] = field(default_factory=list)  # (accept time, canonical JSON)

    def counts(self) -> Counter:
        return Counter(c for _, c in self.accepted)

    def digest(self) -> str:
        return digest(c for _, c in self.accepted)


def read_sink_log(log_dir: str) -> SinkLog:
    import json

    log = SinkLog()
    for path in sorted(glob.glob(os.path.join(log_dir, "client-*.log"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                kind, rest = line.rstrip("\n").split("\t", 1)
                if kind == "A":
                    t, data = rest.split("\t", 1)
                    log.accepted.append((float(t), canonical(json.loads(data))))
                    continue
                _, t1, n, nb, nt, nr, nf = rest.split("\t")
                log.put_calls += 1
                log.records_sent += int(n)
                log.bytes_sent += int(nb)
                log.throttled += int(nt)
                log.retried += int(nr)
                log.failed += int(nf)
                log.calls_with_throttle += int(nt) > 0
                log.last_call_t = max(log.last_call_t, float(t1))
    return log


def delivery_errors(expected: list[str], expected_digest: str, log: SinkLog) -> int:
    """0 when the accepted records' digest equals the generator's;
    otherwise the records that broke exactly-once delivery — expected
    records never accepted, and accepted records that are repeats or
    were never expected — and at least 1."""
    if log.digest() == expected_digest:
        return 0
    want, got = Counter(expected), log.counts()
    return max(1, sum((want - got).values()) + sum((got - want).values()))
