"""SparkSession factory.

Defaults are chosen for the 100 TB design target, then scaled down by env
vars for local runs:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — replaces the reference's hand-tuned MAX_WORKERS /
  BATCH_SIZE knobs (reference app/app.py:33,174; app/main.py:29,278).
- Arrow on, so any unavoidable Pandas UDF moves data in vectorized batches.
- ``spark.sql.shuffle.partitions`` sized from SPARK_GRAFT_CPUS locally; on a
  real cluster AQE coalesces from a deliberately high initial number.
- the driver heap (the executor too, in local mode) is SPARK_GRAFT_DRIVER_MEM,
  else half the host's physical memory capped at 24g.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the driver-heap cap: at 8g the bench's accumulated shuffle/broadcast
#: state pushed GC into the measured queries (1.7× total slowdown observed)
DRIVER_MEM_CAP_MB = 24 * 1024


def default_driver_mem() -> str:
    """Half the host's physical memory, capped at ``DRIVER_MEM_CAP_MB``: in
    local mode the driver JVM is also the executor, and a heap larger than
    the host lets it grow until the kernel kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(DRIVER_MEM_CAP_MB, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "py-datalake-move-files-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Sets compute/shuffle conf only. Cloud credentials arrive through
    ``extra_conf``: the CLI passes ``config.azure_oauth_conf`` (the
    reference's env-config, app/config.py:15-20) when a path is an
    ``abfss://`` URI.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect parallelism when coalescing post-shuffle partitions
        # (Spark's default): expansion-heavy stages (inverted-index self-
        # joins, candidate verification) are CPU-bound with small shuffle
        # BYTES, and size-first coalescing collapsed them to ~1 partition —
        # serializing exactly the stages that need every core (measured 2.3×
        # on connected components). At 100 TB shuffle sizes dwarf the 64 MB
        # advisory, so both policies produce thousands of partitions there —
        # this knob only changes the small-shuffle/CPU-heavy regime.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # tz-less parquet timestamps (timestamp[us] with isAdjustedToUTC=false)
        # read as TimestampType, not TIMESTAMP_NTZ. The reference compares
        # plain tz-naive datetimes (app/main.py:120-132); with the session
        # pinned to UTC above, NTZ -> UTC-instant is semantics-preserving, and
        # it keeps unix_millis and window ranges working uniformly.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # local mode: the driver JVM IS the executor; real clusters size
        # spark.executor.memory instead and ignore this knob
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
