"""SparkSession builder tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: every core of
the machine, with a driver heap bounded by its physical RAM — see
:func:`default_resources`); the same config block is
what we would ship to a 1000-executor cluster — AQE (runtime re-plan +
skew-join splitting), auto broadcast for dim tables, Arrow for the few
pandas-UDF operators, and shuffle partitions sized via env so the same
code scales from sf0.001 (32 partitions) to 100 TB (tens of thousands).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

#: share of physical RAM the default driver heap may take (local mode
#: runs every task slot inside that one JVM); the rest stays for the
#: Python workers, Arrow buffers and the OS page cache
HEAP_RAM_FRACTION = 0.5


def default_resources(
    cpu_count: int | None, phys_bytes: int | None
) -> tuple[str, str]:
    """(cores, driver heap) defaults for a machine with ``cpu_count``
    cores and ``phys_bytes`` of physical RAM: every core, and
    :data:`HEAP_RAM_FRACTION` of RAM in whole MB, capped at 16g (the
    old fixed default) and floored at 1g. Unknown inputs fall back to
    1 core / 1g."""
    cores = max(1, cpu_count or 1)
    heap_mb = int((phys_bytes or 0) * HEAP_RAM_FRACTION) >> 20
    return str(cores), f"{min(16 << 10, max(1 << 10, heap_mb))}m"


def _phys_bytes() -> int | None:
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return None


def get_spark(app_name: str = "b2b-pipeline-spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) a tuned SparkSession.

    Every knob here is scale-motivated, not test-motivated:

    - AQE coalesces post-shuffle partitions and splits skewed ones at
      runtime, so a fixed ``shuffle.partitions`` misconfiguration does
      not sink a 100 TB run.
    - ``autoBroadcastJoinThreshold`` keeps dimension joins (region,
      nation, supplier, part) shuffle-free.
    - Arrow makes the pandas-UDF operators (MinHash, SimHash,
      multimodal) batch-transfer instead of row-pickle.
    """
    default_cpus, default_heap = default_resources(os.cpu_count(), _phys_bytes())
    cpus = os.environ.get("SPARK_GRAFT_CPUS", default_cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs every task slot in the ONE driver JVM and
        # task retries are off (maxFailures=1), so a transient GCLocker
        # allocation failure in a heavy stage is fatal — at 8g the sf10
        # wedge-closure stage died this way on a 32-core box; heavy
        # sf10 runs set SPARK_GRAFT_DRIVER_MEM. The default is
        # bounded by physical RAM (default_resources) so it never
        # promises a heap the machine cannot back. On a real cluster
        # this is per-executor memory, not driver.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_heap),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
