"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the configs below are the ones
that matter at cluster scale too (AQE for runtime re-planning / skew joins,
Arrow for the pandas-UDF kernels, sane shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "gisaid-pipeline-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting — the main
        # lever for hot-key proteins / weeks at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        # Arrow transfer for the mapInPandas kernels (variant caller,
        # embedding ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # no [Stage N:...] bars on stderr: they bury the timing tools' output
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
