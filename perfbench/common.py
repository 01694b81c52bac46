"""Session lifecycle, memory and percentile helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work_dir: str):
    """Start the engine session on ``local[nproc]`` with every scratch path
    (Spark local dirs, warehouse, JVM and Python temp files) inside
    ``work_dir``. Returns ``(spark, seconds_taken)``."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # inherited by the JVM the session launches; SPARK_LOCAL_DIRS overrides
    # spark.local.dir, so it is pointed inside the work dir as well
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM spark-submit runs first takes its options from here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    t0 = time.perf_counter()
    from emdatapipelines_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a heap fixed at its maximum: a growing heap made peak RSS vary
            # by ±20% between runs of the same input
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM and the Python workers the JVM
    started have exited."""
    from pyspark import SparkContext

    started = set(_descendants(os.getpid(), _live_parents()))
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when this pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while started & set(_live_parents()) and time.monotonic() < deadline:
        time.sleep(0.1)


def release_caches(spark) -> None:
    """Drop the previous operation's cached tables and pinned frames."""
    from emdatapipelines_spark import cachectl

    spark.catalog.clearCache()
    cachectl.release_tracked()


def _live_parents() -> dict[int, int]:
    """pid -> parent pid of every process that has not exited."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                state, ppid = fh.read().rsplit(")", 1)[1].split()[:2]
        except (OSError, ValueError):
            continue
        if state != "Z":
            out[int(entry)] = int(ppid)
    return out


def _descendants(pid: int, parents: dict[int, int]) -> list[int]:
    out, todo = [], [pid]
    while todo:
        parent = todo.pop()
        kids = [c for c, p in parents.items() if p == parent]
        out += kids
        todo += kids
    return out


def peak_rss_mb() -> float:
    """Sum of the resident-memory high-water marks (VmHWM) of this Python
    driver and its direct children: the JVM the session launched. Python
    workers, forked by the JVM on demand, are not counted."""
    me = os.getpid()
    kb = 0
    for pid in [me, *(c for c, p in _live_parents().items() if p == me)]:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def pinned_mb(spark) -> float:
    from emdatapipelines_spark.cachectl import pinned_bytes

    return pinned_bytes(spark) / (1024 * 1024)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..1); the maximum when there are
    too few samples to have anything above the rank."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / (1024 * 1024)
