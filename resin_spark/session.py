"""SparkSession factory tuned for both local testing and cluster scale.

The settings below are the ones that matter at 100 TB: AQE (runtime
coalescing + skew-join splitting), partition sizing, Arrow for any
Python exchange, and a UTC session timezone so timestamp semantics are
engine-independent (the DuckDB correctness oracle runs in UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding the resin_spark package: Python workers get it on
# their PYTHONPATH, so the UDFs' module imports resolve whatever the
# driver's cwd is.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "resin_spark",
              master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster, leave it unset and let spark-submit provide it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        # Arrow for every pandas_udf / mapInPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp semantics across engines.
        .config("spark.sql.session.timeZone", "UTC")
        # Auto-broadcast small dims (default 10 MB is fine; make explicit).
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Read ns-precision parquet timestamps as long; resin_spark.io
        # converts them to real timestamps with integer µs arithmetic.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("RESIN_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()
