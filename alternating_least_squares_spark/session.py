"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same configs are the ones we
would ship to a 1000-executor cluster (AQE on, skew-join handling on,
Arrow for the few pandas-UDF paths, sane shuffle partitioning).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_PACKAGE = os.path.dirname(os.path.abspath(__file__))
_ZIP_NAME = os.path.basename(_PACKAGE) + ".zip"
_SHIP_LOCK = threading.Lock()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable in ``spark``'s Python workers from
    any working directory.

    A Python-worker stage (``mapInArrow``, ``applyInPandas``, pandas
    UDFs) pickles the package's module-level functions by reference,
    so the worker must import the package. Workers start in the
    driver's working directory with only PySpark on their path, so
    without this they find the package only when that directory holds
    it. Once per SparkContext the ``.py`` sources are zipped and added
    to its Python includes (0.05–0.2 s on the first call, nothing
    after); no session conf is written. Workers whose path already
    holds the package keep importing that copy first."""
    sc = spark.sparkContext
    with _SHIP_LOCK:
        # the context's own include list; `listFiles` costs a JVM
        # round trip of ~40 ms per call
        if _ZIP_NAME in sc._python_includes:
            return
        # executors off the driver host fetch the zip from this path
        # later, so it lives until the driver process exits
        tmp = tempfile.mkdtemp(prefix="als-spark-")
        atexit.register(shutil.rmtree, tmp, True)
        path = os.path.join(tmp, _ZIP_NAME)
        root = os.path.dirname(_PACKAGE)
        with zipfile.ZipFile(path, "w") as zf:
            for d, subdirs, files in os.walk(_PACKAGE):
                subdirs[:] = [s for s in subdirs if s != "__pycache__"]
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(d, f)
                        zf.write(full, os.path.relpath(full, root))
        sc.addPyFile(path)


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
