"""SparkSession construction and runtime configuration.

Two paths:
- ``get_spark()`` builds our own local session (tests, bench).
- ``configure(spark)`` applies the required *runtime-settable* SQL confs to
  any externally provided session (the driver passes its own session to
  ``entry``/``queries()``), so the engine works regardless of who built it.

The non-default confs and why (SURVEY.md §4.3, §1.3):
- ``spark.sql.session.timeZone=UTC`` — fixture timestamps are naive; UTC
  makes LTZ<->NTZ casts and DuckDB comparisons exact.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.ts`` is Parquet
  INT64 TIMESTAMP(NANOS), which Spark 4.x refuses by default
  (PARQUET_TYPE_ILLEGAL); with this conf it arrives as a ns long and is
  converted centrally in sources/tables.py.
- ``spark.sql.shuffle.partitions`` — sized to the local core count; 200
  default is pure scheduling overhead at test scale. On a real cluster this
  is left to AQE coalescing (adaptive.enabled stays on).

``configure`` also puts the package's parent directory on the Python
workers' ``PYTHONPATH`` (``SparkContext.environment``, which every Python
UDF ships to its workers): a worker unpickles a UDF defined in this
package by importing it, and without the entry that import only works when
the JVM was started from the repository root.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "data-pipeline-etl-spark"
# The directory that holds the package, for the Python workers' imports.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def configure(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Runtime-settable legacy conf; required before reading events.parquet.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([PACKAGE_ROOT, *paths])
    return spark


def get_spark(app_name: str = APP_NAME) -> SparkSession:
    """Build (or reuse) a local session with the engine's configuration."""
    builder = (
        SparkSession.builder.master(f"local[{_cpus()}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(_cpus()))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    return configure(builder.getOrCreate())
