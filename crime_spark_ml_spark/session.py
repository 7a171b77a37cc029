"""SparkSession factory.

Defaults are scale-aware: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow on (any pandas-UDF path is
vectorized), UTC session timezone (deterministic date math), and
``nanosAsLong`` so parquet TIMESTAMP(NANOS) columns (the ``events``
fixture) are readable; the catalog converts them to TIMESTAMP_NTZ.

Local mode is the test harness only — the engine's plans are written
for a multi-executor cluster (partitioned shuffles, broadcast joins,
no driver-side materialization beyond tiny aggregates).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package: Python workers import it from here
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "4"))


def get_spark(
    app_name: str = "crime-spark-ml",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 4)
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # the sys.path a launcher sets reaches only the driver; without this
    # every mapInArrow/applyInArrow kernel fails to import the package
    # when the driver starts outside the repo root
    inherited = filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))
    worker_path = os.pathsep.join(dict.fromkeys([_PACKAGE_PARENT, *inherited]))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
