"""Tests of the benchmark itself: generators, the exactly-once check,
a test-size run of each workload, and metric names against
``BENCHMARK.json``.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.capture import digest, make_capture  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.sink import CountingKinesisClient, delivery_errors, read_sink_log  # noqa: E402
from perfbench.tables import make_tables  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"] for m in SPEC["per_layer"]}


def test_capture_is_deterministic_per_seed():
    a, b = make_capture(7, 30, 20), make_capture(7, 30, 20)
    assert a.docs == b.docs and a.expected == b.expected
    assert a.digest() == b.digest()
    other = make_capture(8, 30, 20)
    assert other.docs != a.docs and other.digest() != a.digest()
    # Every capture carries an empty document and one with malformed children.
    assert any(not recs for recs in a.expected)
    assert any(re.search(r'<Detector (count|Did)="\d+"/>', d) for d in a.docs)


def test_tables_are_deterministic_per_seed():
    a, b, c = make_tables(3), make_tables(3), make_tables(4)
    assert set(a) == set(b)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


class DroppingClient(CountingKinesisClient):
    """Acknowledges its first record without delivering it."""

    dropped = False

    def put_records(self, StreamName, Records):  # noqa: N803
        if self.dropped:
            return super().put_records(StreamName, Records)
        self.dropped = True
        resp = super().put_records(StreamName, Records[1:])
        resp["Records"].insert(0, {"SequenceNumber": "0", "ShardId": "shard-0"})
        return resp


class RepeatingClient(CountingKinesisClient):
    """Delivers its first record twice."""

    repeated = False

    def put_records(self, StreamName, Records):  # noqa: N803
        if self.repeated:
            return super().put_records(StreamName, Records)
        self.repeated = True
        resp = super().put_records(StreamName, Records[:1] + Records)
        resp["Records"].pop(0)
        return resp


def _deliver(client_cls, tmp_path, records, throttle_share=0.0):
    log_dir = tmp_path / client_cls.__name__
    log_dir.mkdir()
    client = client_cls(str(log_dir), throttle_share, seed=5)
    data = [{"PartitionKey": "k", "Data": r.encode()} for r in records]
    for i in range(0, len(data), 10):
        chunk = data[i : i + 10]
        resp = client.put_records(StreamName="s", Records=chunk)
        if resp["FailedRecordCount"]:
            retry = [r for r, e in zip(chunk, resp["Records"]) if "ErrorCode" in e]
            assert client.put_records(StreamName="s", Records=retry)["FailedRecordCount"] == 0
    return read_sink_log(str(log_dir))


def test_exactly_once_check(tmp_path):
    capture = make_capture(1, 5, 30)
    expected = [r for recs in capture.expected for r in recs]
    assert digest(expected) == capture.digest()

    log = _deliver(CountingKinesisClient, tmp_path, expected, throttle_share=0.1)
    assert log.throttled > 0 and log.retried == log.throttled and log.failed == 0
    assert log.records_sent == len(expected) + log.throttled
    assert delivery_errors(expected, capture.digest(), log) == 0

    for client in (DroppingClient, RepeatingClient):
        log = _deliver(client, tmp_path, expected, throttle_share=0.1)
        assert delivery_errors(expected, capture.digest(), log) == 1, client.__name__


def test_benchmark_json_matches_the_workloads():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert not E2E & LAYERS


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


SMOKE = """
import json, sys
from perfbench.run import run
r = run(sys.argv[1], 1, 1.0, True, tiny=True)
print(json.dumps({"metrics": r.metrics, "attempted": r.attempted, "failed": r.failed,
                  "traced": json.loads(r.line())["metrics"]}))
"""


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run(workload):
    """Every workload reports every metric of BENCHMARK.json, and only those."""
    proc = subprocess.run(
        [sys.executable, "-c", SMOKE, workload],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["attempted"] >= 1 and out["failed"] == 0
    assert set(out["metrics"]) == E2E | LAYERS
    assert set(out["traced"]) == LAYERS
    assert all(out["metrics"][k] > 0 for k in E2E)
