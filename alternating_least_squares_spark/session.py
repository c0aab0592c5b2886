"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same configs are the ones we
would ship to a 1000-executor cluster (AQE on, skew-join handling on,
Arrow for the few pandas-UDF paths, sane shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "alternating-least-squares-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults come from the environment the driver uses:
    ``SPARK_GRAFT_CPUS`` threads on local mode, shuffle partitions
    matched to the core count (small local data; on a real cluster
    AQE coalesces the 200-ish default anyway).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime coalescing, skew-join splitting,
        # dynamic broadcast conversion — the 100 TB safety net.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the pandas-UDF (multimodal) paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic sessionized timezone for timestamp oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
