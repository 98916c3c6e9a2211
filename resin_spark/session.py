"""SparkSession factory tuned for both local testing and cluster scale.

The settings below are the ones that matter at 100 TB: AQE (runtime
coalescing + skew-join splitting), partition sizing, Arrow for any
Python exchange, and a UTC session timezone so timestamp semantics are
engine-independent (the DuckDB correctness oracle runs in UTC).

``memo`` and ``scratch_dir`` are the package's one cache and scratch
space, both scoped to the live SparkContext.
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark import SparkFiles
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


# Entries one SparkContext's memo holds; past it the store is cleared
# whole and rebuilt on demand.
MEMO_BOUND = 256

# SparkContext -> its memo store. A process has at most one live
# SparkContext, so a context not seen before means the earlier one was
# stopped, and its entries (checkpointed frames, scratch dirs Spark
# deleted at stop()) go with it.
_MEMOS: dict = {}
_MEMOS_LOCK = threading.Lock()


def memo(spark: SparkSession, key, build):
    """``build()``'s result for ``key``, computed once per SparkContext:
    the one cache for plan statistics, shared pair relations and
    persisted-index builds. A value is never served to a later context
    than the one whose plans and files it describes.

    ``build`` runs outside the lock (it runs Spark jobs, and may call
    memo itself), so threads racing on one key may each build; the
    first value stored is the one every caller gets."""
    sc = spark.sparkContext
    with _MEMOS_LOCK:
        store = _MEMOS.get(sc)
        if store is None:
            _MEMOS.clear()
            store = _MEMOS[sc] = {}
        if key in store:
            return store[key]
    value = build()
    with _MEMOS_LOCK:
        if key not in store and len(store) >= MEMO_BOUND:
            store.clear()
        return store.setdefault(key, value)


def scratch_dir(spark: SparkSession, key, fill=None) -> str:
    """A scratch directory for ``key``, private to this SparkContext:
    created under ``SparkFiles.getRootDirectory()``, which Spark deletes
    at ``stop()``, so concurrent runs never share one and none outlives
    its session. ``fill(dir)`` runs once, when the directory is made;
    the memo entry and the files it refers to live and die together."""
    def make() -> str:
        path = tempfile.mkdtemp(prefix="scratch_",
                                dir=SparkFiles.getRootDirectory())
        if fill is not None:
            fill(path)
        return path
    return memo(spark, ("scratch", key), make)
