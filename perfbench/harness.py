"""Run-time plumbing shared by the workloads: the checkout-local work
directory, the launch-time Spark conf the benchmark adds, host facts,
memory high-water marks and the statistics every metric is made of."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "database_importer_spark")
CPUS = len(os.sched_getaffinity(0))
# The session factory's default heap (16g) is sized for sf10; 4g holds
# the sf0.1 workloads and keeps a run small on a shared machine.
DRIVER_MEMORY = "4g"


def prepare_process(trace: bool) -> str:
    """Point every scratch path of Spark, the JVM and Python at the
    checkout's work directory, make the package importable, and add
    the benchmark's launch-time conf to whatever session the program
    builds. Returns this run's private directory."""
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp, os.path.join(WORK, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=tmp,
        SPARK_GRAFT_JAVA_OPTS=(
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}/derby"
        ),
    )
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # The session factory puts its warehouse (the layouts) in the system
    # temp directory; the benchmark keeps every file it causes inside the
    # checkout.
    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    from pyspark.sql import SparkSession

    create = SparkSession.Builder.getOrCreate

    def get_or_create(builder):
        for k, v in conf.items():
            builder.config(k, v)
        return create(builder)

    SparkSession.Builder.getOrCreate = get_or_create
    return run_dir


def cleanup(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def _tree() -> list[tuple[int, str]]:
    """(pid, command name) of this process and all its descendants."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        kids.setdefault(int(tail.split()[1]), []).append((int(d), head.split("(", 1)[1]))
    out, todo = [], [(os.getpid(), "python")]
    while todo:
        pid, comm = todo.pop()
        out.append((pid, comm))
        todo.extend(kids.get(pid, []))
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> dict[str, float]:
    """High-water marks (VmHWM, MB) of the Python driver, the JVM, and
    the processes the JVM starts (the Python workers for UDFs, whose
    number depends on how tasks happened to be scheduled)."""
    out = {"driver": 0.0, "jvm": 0.0, "other": 0.0}
    for pid, comm in _tree():
        kind = "driver" if pid == os.getpid() else "jvm" if comm == "java" else "other"
        out[kind] += _hwm_mb(pid)
    return out


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut down the JVM that PySpark launched (it exits when its stdin
    closes) and wait until it and every process it started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while len(_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from /proc/stat:
    the share stolen over an interval tells how busy the machine's
    other tenants kept it."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_facts(spark, seed: int, corpus_dir: str) -> dict:
    import duckdb
    import pyspark

    from bench import duckdb_calibration

    return {
        "nproc": CPUS,
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
        "duckdb_calib_s": duckdb_calibration(corpus_dir),
    }


def summary(values: list[float]) -> dict:
    """Median and sample count, and the p90 only when at least ten
    samples lie beyond it."""
    out = {"p50": statistics.median(values), "n": len(values)}
    if len(values) >= 100:
        out["p90"] = statistics.quantiles(values, n=10, method="inclusive")[-1]
    return out
