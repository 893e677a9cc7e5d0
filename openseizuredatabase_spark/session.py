"""SparkSession factory tuned for this engine.

Local mode is a correctness/test environment; the config mirrors what we
would deploy on a large cluster (AQE on, skew-join handling, Arrow on,
UTC session timezone so timestamp semantics match the DuckDB oracle and
are stable across clusters).
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

# directory that holds the package: Python workers import the worker
# daemon and every pickled-by-reference UDF from it
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _executor_pythonpath() -> str:
    """``spark.executorEnv.PYTHONPATH`` with the package's parent directory
    in front of any value a running JVM's conf already holds."""
    existing = (SparkConf().get("spark.executorEnv.PYTHONPATH") or "").split(os.pathsep)
    return os.pathsep.join([_PACKAGE_PARENT] + [p for p in existing if p and p != _PACKAGE_PARENT])


def get_spark(app_name: str = "openseizuredatabase_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/memory settings come from spark-submit; everything
    set here is safe to keep.

    Python workers start through ``worker_daemon``, which spares each
    task a re-read of the zip archives on the worker's path (see
    README "Python workers").
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_parts = max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamp[us] without isAdjustedToUTC would otherwise read
        # as TIMESTAMP_NTZ (Spark 4 default), which rejects cast-to-double /
        # unix_micros and diverges from DuckDB's naive-as-UTC reading. With
        # a UTC session, LTZ inference makes both engines see identical
        # instants regardless of how the writer flagged the column.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "openseizuredatabase_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _executor_pythonpath())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
