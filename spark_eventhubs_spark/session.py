"""One-call tuned SparkSession for this engine.

Collects every session conf the package needs or recommends, so users
do not rediscover them one stack trace at a time:

- ``spark.sql.legacy.parquet.nanosAsLong`` — the driver testdata's
  events table is TIMESTAMP(NANOS); without this the scan fails with
  PARQUET_TYPE_ILLEGAL.
- UTC session timezone — event-time arithmetic must not depend on the
  host zone.
- AQE + coalescing — runtime re-planning (skew joins, small-partition
  folding) for the catalog's join/agg topologies.
- shuffle partitions ~ cores — right-sized for local runs; on a real
  cluster leave Spark's default or size to 2-3x total cores.
- cores and driver memory from the host it runs on (the CPUs this
  process may use, a quarter of MemTotal) unless ``SPARK_GRAFT_CPUS`` /
  ``SPARK_GRAFT_DRIVER_MEM`` say otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from spark_eventhubs_spark.plans.hubview import configure_session


def host_driver_mem() -> str:
    """A quarter of the host's MemTotal, at least 1g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return "1g"
    return f"{max(1, kb // (4 << 20))}g"


def build_session(
    app_name: str = "spark-eventhubs",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Tuned local/session builder. ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]``, else to the CPUs this process may run
    on; shuffle partitions default to the core count."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if master is None:
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Local mode runs all executor threads inside the driver JVM, whose
    # 1g default heap caps wide-operator scale far below the host's
    # RAM; honored only at JVM launch (getOrCreate on a live JVM keeps
    # the existing size).
    b = b.config("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_mem())
    b = b.config("spark.sql.shuffle.partitions",
                 str(shuffle_partitions) if shuffle_partitions is not None else cpus)
    spark = b.getOrCreate()
    return configure_session(spark)
