"""SparkSession factory with oracle-parity and scale-aware defaults.

Reference parity note: the reference is a single-process client script
(SURVEY.md section 3.1); its entire "runtime config" is connection
settings. Here the runtime is Spark, so this module owns the knobs
that matter for both correctness parity (UTC session timezone, no
ANSI-mode surprises) and 100 TB-scale execution (AQE, skew-join
handling, Arrow for pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At the test scale factors (<= 600k rows) a couple dozen shuffle
# partitions keeps scheduling overhead negligible; on a real cluster
# AQE coalesces from a high initial number, so we set the initial
# partition number from the env and let AQE shrink it.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
# AQE is the right default for cluster scale (runtime coalesce, skew
# splits); at the sub-GB bench scale its per-stage re-planning is pure
# overhead, so bench.py switches it off via this env.
DEFAULT_AQE = os.environ.get("SPARK_GRAFT_AQE", "true").lower() != "false"


def get_spark(app_name: str = "cassandra-elasticsearch-sync-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    One session is reused across all queries: the JVM startup cost
    dominates end-to-end time at small scale factors (BASELINE.md), and
    on a cluster a shared session reuses executors, the shuffle service
    and the broadcast cache.
    """
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet ns timestamps (events.ts): read as raw long; the
        # catalog rebuilds the timestamp with exact integer division.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write timestamps as INT64 micros, not the legacy INT96:
        # identical values on read (both store micros), but INT96
        # carries NO usable min/max statistics and defeats predicate
        # pushdown on every timestamp column the engine writes - with
        # MICROS the ACID manifest's footer-derived stats and the
        # parquet row-group filters both work (round-12 optimization).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # --- scale: adaptive execution ---
        .config("spark.sql.adaptive.enabled", str(DEFAULT_AQE).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scale: broadcast threshold; dimension tables up to 64 MB
        # are broadcast instead of shuffled (region/nation/supplier/part
        # at bench SFs; on a cluster this kills the big star-join shuffles).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Python boundary: Arrow batching for the pandas-UDF paths ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Local mode memory: the driver hosts all executors in local mode.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
