"""Shared plumbing of the three workloads: the run directory and process
environment, the timed set-up, peak memory, the engine counters every
traced run reports, and medians."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

SETUP_REPS = 3
# The driver heap is committed and touched at start-up, so the JVM's
# share of peak memory does not depend on when the heap happened to grow.
HEAP = "1g"


def pin_environment(run_dir: str, root: str) -> int:
    """Pin the engine to this host's cores and keep every scratch file
    of Spark, the JVM and Python inside ``run_dir``.  Must run before
    ``scats_transis_kinesis_spark.session`` is imported: it reads
    ``SPARK_GRAFT_CPUS`` at import time.  Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # Python workers import the engine and the benchmark's sink client.
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return cpus


def session_conf(run_dir: str, trace: bool, extra: dict[str, str] | None = None) -> dict[str, str]:
    """Session settings of a run; a traced run also writes Spark's event
    log to ``event_dir(run_dir)``, for :func:`engine_counters`."""
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(event_dir(run_dir), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": event_dir(run_dir),
            }
        )
    conf.update(extra or {})
    return conf


def event_dir(run_dir: str) -> str:
    return os.path.join(run_dir, "eventlog")


@dataclass
class Setup:
    spark: object
    inputs: object
    get_session_s: float
    inputs_s: list[float] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        """Session start plus the median of the repeated steps."""
        return self.get_session_s + median(self.inputs_s)


def repeated_setup(conf: dict[str, str], make_inputs, reps: int = SETUP_REPS) -> Setup:
    """Start the session once — that launches the JVM, which a process
    does once — then register ``transis_xml`` and generate the inputs
    ``reps`` times, keeping the last inputs."""
    from scats_transis_kinesis_spark.session import get_session
    from scats_transis_kinesis_spark.sources.datasource import register_transis_datasource

    t0 = time.perf_counter()
    spark = get_session(app_name="perfbench", extra_conf=conf)
    setup = Setup(spark, None, time.perf_counter() - t0)
    for rep in range(reps):
        t0 = time.perf_counter()
        register_transis_datasource(spark)
        setup.inputs = make_inputs(rep)
        setup.inputs_s.append(time.perf_counter() - t0)
    return setup


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(values) -> float:
    return float(statistics.median(values))


def quantile(values, q: float) -> float:
    """Nearest-rank quantile, ``0 < q < 1``."""
    s = sorted(values)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def epoch_s(iso: str) -> float:
    """Wall time of a ``StreamingQueryProgress.timestamp``."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # The command name is parenthesised and may hold spaces.
        return f.read().rsplit(")", 1)[1].split()


def cpu_s(spark) -> dict[str, float]:
    """CPU seconds used so far by this Python process, the driver JVM,
    and the JVM's descendants (the Python workers, including those that
    already exited and were reaped inside that tree)."""
    tick = os.sysconf("SC_CLK_TCK")
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    children: dict[int, list[int]] = {}
    times: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            st = _stat_fields(int(name))
        except OSError:  # exited while we looked
            continue
        # After the name: state, ppid, ..., utime stime cutime cstime (14-17).
        children.setdefault(int(st[1]), []).append(int(name))
        times[int(name)] = sum(int(v) for v in st[11:15]) / tick
    workers, todo = 0.0, list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        workers += times.get(pid, 0.0)
        todo += children.get(pid, [])
    jvm = _stat_fields(jvm_pid)
    return {
        "cpu.driver_python_s": time.process_time(),
        "cpu.jvm_s": (int(jvm[11]) + int(jvm[12])) / tick,
        "cpu.python_workers_s": workers,
    }


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


EVENT_PREFIXES = tuple(
    f'{{"Event":"SparkListener{k}"' for k in ("JobStart", "StageCompleted", "TaskEnd")
)


def engine_counters(spark, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Stop the session and read Spark's event log (complete only once
    the context has stopped): the engine counters of the jobs submitted
    within ``windows``, a list of wall-clock (start, end) intervals.
    ``spark.driver_s`` is the windows' time during which none of those
    jobs' tasks ran."""
    sc = spark.sparkContext
    log_path = os.path.join(sc.getConf().get("spark.eventLog.dir"), sc.applicationId)
    spark.stop()
    stage_window: dict[int, int] = {}
    jobs = stages = tasks = 0
    run_ms = gc_ms = 0
    cpu_ns = read_b = write_b = spill_b = 0
    intervals: dict[int, list[tuple[float, float]]] = {}
    with open(log_path, encoding="utf-8") as f:
        for line in f:
            if not line.startswith(EVENT_PREFIXES):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1000.0
                w = next((i for i, (a, b) in enumerate(windows) if a <= t <= b), None)
                if w is not None:
                    jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_window.setdefault(sid, w)
            elif kind == "SparkListenerStageCompleted":
                stages += ev["Stage Info"]["Stage ID"] in stage_window
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_window:
                tasks += 1
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                intervals.setdefault(stage_window[ev["Stage ID"]], []).append(
                    (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
                )
                run_ms += m.get("Executor Run Time", 0)
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                write_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    driver_s = 0.0
    for w, (w0, w1) in enumerate(windows):
        busy, end = 0.0, w0
        for a, b in sorted(intervals.get(w, [])):
            a, b = max(a, end), min(b, w1)
            if b > a:
                busy += b - a
                end = b
        driver_s += (w1 - w0) - busy
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.driver_s": driver_s,
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.shuffle_read_mb": read_b / mb,
        "spark.shuffle_write_mb": write_b / mb,
        "spark.spill_mb": spill_b / mb,
    }
