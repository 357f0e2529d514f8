"""SparkSession factory.

Scale notes (100 TB target):
- AQE is on so shuffle partition counts, join strategies and skew handling
  re-plan at runtime from real statistics; the static
  ``spark.sql.shuffle.partitions`` is only the initial value.
- UTC session timezone pins timestamp semantics for oracle parity (DuckDB
  timestamps are UTC-naive).
- Arrow is enabled for any Pandas-UDF path (vectorized batch transfer).
- On a real cluster the same builder works with ``master`` left to the
  submitter; nothing here assumes local mode except the default master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MB = 24 * 1024


def _default_driver_mem() -> str:
    """A third of the host's RAM, capped at 24g. A fixed 24g heap let the
    JVM grow past physical memory on a 16 GB host (the GC expands the heap
    lazily up to -Xmx) and the kernel killed it mid-suite; the rest of RAM
    is left to Python workers and the OS."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(_MAX_DRIVER_MB, max(1024, total_mb // 3))}m"
    except OSError:
        pass
    return f"{_MAX_DRIVER_MB}m"


def get_spark(
    app_name: str = "graph-vulcan-assets-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``);
    ``SPARK_GRAFT_DRIVER_MEM`` the driver heap (default: a third of RAM,
    at most 24g).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode is driver-only: this is the one memory knob that
        # matters (takes effect at JVM launch, ignored afterwards)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # honor the advisory partition size instead of maximizing
        # parallelism (round 13): with parallelismFirst (the default) AQE
        # splits small shuffles into per-core slivers whose task overhead
        # dominates at sub-GB shuffle sizes, and 24/38 bench entries ran
        # FASTER on 8 cores than 32 (PERF r12). Bytes-proportional
        # coalescing is the scale-adaptive behavior the tuning guide
        # recommends; the advisory size is env-parameterized — 64m local
        # default (measured: sub-second entries −6%, kernel-heavy vector
        # entries −20–30% at sf0.1, 10× scale rehearsals green), 256m is
        # the documented production setting for cluster-scale shuffles.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # write micros, not INT96: INT96 round-trips through pyarrow as
        # nanoseconds, which Arrow-based readers (pyds) cannot ingest
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # managed-table home for bucketed tables (static config; keep the
        # repo clean and writable in any sandbox)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/gvas-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
