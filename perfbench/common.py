"""Shared plumbing for the workloads: an isolated scratch area inside the
checkout, the Spark session fitted to the host, memory and percentile
helpers."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RULES_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "rules", "cloudtrail.json")
# Spark JVM heap, fixed (-Xms = -Xmx): the session factory's 48g default
# is sized for a bench host, and a growable heap let G1's sizing move the
# JVM's peak RSS by up to a third between runs of the same code.
HEAP = "1g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Scratch:
    """A fresh directory under ``<checkout>/.perfbench/`` that holds every
    file a run writes: inputs, warehouses, state dirs, Spark local dirs,
    the JVM and Python temp dirs. ``TMPDIR`` points
    into it, so ``tempfile``-keyed fixtures are rebuilt on every run."""

    def __init__(self, workload: str, seed: int):
        base = os.path.join(ROOT, ".perfbench")
        self.path = os.path.join(base, f"run-{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
        self.traces = os.path.join(base, "traces")
        os.makedirs(self.path)
        self.tmp = self.sub("tmp")
        self.eventlog = self.sub("eventlog")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)


def start_session(scratch: Scratch, master: str | None = None, eventlog: bool = False):
    """A SparkSession at ``local[nproc]`` whose every file lands in the
    scratch area; with ``eventlog``, it writes its event log to
    ``scratch.eventlog``."""
    from swarm_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": scratch.sub("spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch.tmp} -XX:-UsePerfData -Xms{HEAP}",
    }
    if eventlog:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = scratch.eventlog
        conf["spark.eventLog.compress"] = "false"
    n = cpus()
    spark = get_spark(
        app_name="swarm-spark-perfbench",
        master=master or f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it. The gateway
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set of this Python process and of its JVM, in MB."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm)}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as (percentile, value); None when there are too few samples."""
    s = sorted(xs)
    k = len(s) - beyond - 1
    if k < 0:
        return None
    return 100.0 * (k + 1) / len(s), s[k]


def load_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def run_bench(cfg: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """Run the benchmark's command from ``BENCHMARK.json`` once, as the
    contract runs it, and return its result and its ``report`` line."""
    cmd = cfg["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(cfg["run_seconds"]), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900, check=True)
    lines = out.stdout.strip().splitlines()
    report = json.loads(next(x for x in lines if x.startswith("report "))[len("report "):])
    return json.loads(lines[-1]), report


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def emit(result: dict, report: dict | None = None) -> None:
    """Print the human-facing report line, then the result as the last
    line of standard output."""
    if report is not None:
        print("report " + json.dumps(report, sort_keys=True), flush=True)
    print(json.dumps(result), flush=True)
