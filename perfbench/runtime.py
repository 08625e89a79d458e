"""Process environment for a benchmark run: cores, heap, paths, canary.

The engine's ``session.get_spark`` reads ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``; left unset they default to ``local[32]``
and a 16 GB heap. :func:`configure` sets both for the machine the run
is on, puts the checkout on ``PYTHONPATH`` (Python UDF workers import
the engine package), and keeps every temporary file inside the run's
work directory.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

#: heap share of physical RAM, and its bounds (MB)
HEAP_SHARE = 0.3
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 6144

#: canary work per core (rows hashed); see :func:`canary_seconds`
CANARY_ROWS_PER_CORE = 4_000_000
#: best-of-3 canary time with no benchmark running, on a 4-core x86-64
#: box whose other tenants kept the load average near 2.4 (0.20-0.24 s;
#: a 1-core-sized canary read 0.14-0.18 s). The canary's work scales
#: with the cores it runs on, so the reference holds for any core count
CANARY_IDLE_S = 0.22
CANARY_CONTENDED_FACTOR = 1.6


def physical_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(root: str, work_dir: str) -> dict:
    """Set the environment the engine session and its workers start
    with. Returns the effective settings for the run record."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = physical_ram_mb()
    heap_mb = int(min(HEAP_MAX_MB, max(HEAP_MIN_MB, ram_mb * HEAP_SHARE)))
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pypath = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYTHONPATH": root + (os.pathsep + pypath if pypath else ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
        ),
    })
    tempfile.tempdir = tmp
    return {"cores": cores, "heap_mb": heap_mb, "ram_mb": ram_mb}


def canary_seconds(spark, cores: int) -> float:
    """Best-of-3 wall time of a fixed all-core JVM job whose work is
    proportional to ``cores`` (one split of ``CANARY_ROWS_PER_CORE``
    hashed rows per core), so its idle time does not depend on the
    core count. It touches no disk and no engine code: it moves only
    with machine load."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, cores * CANARY_ROWS_PER_CORE, 1, cores).selectExpr(
            "sum(pmod(xxhash64(id), 1000)) AS s"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def stop_session(spark) -> None:
    """Stop the session, then its JVM (which runs the local executors
    and owns the Python workers), and wait until the JVM has exited.
    The JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (which also runs the local
    executors), from ``VmHWM``."""
    pid = spark.sparkContext._gateway.proc.pid
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(d, name))
            except OSError:
                pass
    return total
