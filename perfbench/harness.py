"""Session lifecycle and shared bookkeeping for the benchmark workloads."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

DRIVER_HEAP = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Context:
    spark: object
    work: str            # scratch directory of this run, inside the checkout
    seed: int
    seconds: float
    tracer: object = None  # tracing.Tracer in the traced run, else None


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)     # end-to-end metric -> value
    layers: dict = field(default_factory=dict)  # per-layer metric -> value
    checks: list = field(default_factory=list)  # (name, ok, detail)
    attempted: int = 0                          # operations run
    failed: int = 0                             # operations that raised
    info: list = field(default_factory=list)    # human-readable lines
    steps: int = 0                              # epochs or query passes timed

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


def span(ctx: Context, name: str, **attrs):
    """A tracer span in the traced run, a no-op otherwise."""
    return ctx.tracer.span(name, **attrs) if ctx.tracer is not None else nullcontext()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def start_session(work: str, app: str, event_log_dir: str | None):
    """``local[nproc]`` session with shuffle partitions = nproc and a heap
    that fits a 15 GB box. Every scratch path (shuffle, JVM and Python temp
    files, warehouse, event log) points inside ``work``."""
    from crawlspark.config import SparkTuning
    from crawlspark.session import get_spark

    n = nproc()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    extra = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            # keep every job and stage for the per-span counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    tuning = SparkTuning(master=f"local[{n}]", shuffle_partitions=n,
                         driver_memory=DRIVER_HEAP, app_name=app, extra=extra)
    spark = get_spark(tuning)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, f"local[{n}]", n


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process, in MiB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm = _hwm_kb(proc.pid) if proc is not None else 0
    return (jvm + _hwm_kb("self")) / 1024.0


def _proc_stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid, ...,
    start time at index 19."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every process below ``root``."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for name in filter(str.isdigit, os.listdir("/proc")):
        st = _proc_stat(name)
        if st is not None:
            kids.setdefault(int(st[1]), []).append((int(name), st[19]))
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def _alive(proc: tuple[int, str]) -> bool:
    """Still running, and not a later process that reused the pid."""
    st = _proc_stat(proc[0])
    return st is not None and st[19] == proc[1] and st[0] != "Z"


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it and for the Python workers it started, so no
    process outlives the run."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the JVM side may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(map(_alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid, _ in filter(_alive, workers):
        os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None
