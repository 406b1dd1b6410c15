"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; on a real cluster the same settings apply
except driver memory / master, which deploy tooling owns. AQE is on so
skewed traversals and small post-filter frontiers re-plan at runtime
(coalesced partitions, runtime broadcast, skew-join splitting).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def _default_driver_memory() -> str:
    """``min(24g, half of physical memory)``: a fixed 24g heap on a
    smaller host lets the driver JVM outgrow the machine and be killed.
    Falls back to 24g where ``/proc/meminfo`` is unreadable."""
    cap_mb = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    cap_mb = min(cap_mb, int(line.split()[1]) // 1024 // 2)
                    break
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "gravitydb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by size, not by core count: frontier/dimension shuffles
        # are tiny and should collapse to 1 task instead of 32
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
