"""Parquet table sources for the fixture star schema.

All timestamp columns are surfaced as TIMESTAMP_NTZ (naive, matching
DuckDB's TIMESTAMP) so every downstream comparison is timezone-free.

``events.ts`` trap (SURVEY.md §1.3, FIXTURES.md): fixture generations have
shipped two different physical types, so the loader dispatches on the
arriving Spark type:
- INT64 TIMESTAMP(NANOS) (rounds 1-3): with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a ns long;
  convert with *integer* division ``ts div 1000`` (exact — a
  double-division path could lose ULPs at 1e18 ns) then
  ``timestamp_micros`` → NTZ cast under the UTC session timezone, equal to
  DuckDB's native ns→µs truncation bit-for-bit for positive timestamps.
- TIMESTAMP(MICROS) (round 4 regeneration): arrives as a timestamp
  directly; only the NTZ cast applies.

Scale note (100 TB): reads are plain ``spark.read.parquet`` so partition
pruning / predicate pushdown / column pruning all apply; at cluster scale
point this at a partitioned table root instead of a single file — the
operator code is agnostic to layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from data_pipeline_etl_spark.session import configure

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Logical-plan cache: keyed by (session id, sf_dir, table). DataFrames are
# lazy; caching avoids re-reading parquet footers per query, not data.
_CACHE: dict[tuple[int, str, str], DataFrame] = {}
# The parquet schema each cached table arrived with, under the same key:
# readers that need the arriving types (the events stream's declared
# schema) take them from here instead of probing the footer again.
_RAW_SCHEMA: dict[tuple[int, str, str], StructType] = {}


def fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition to core count when the input provides fewer
    partitions — the explicit parallelize-before-heavy-per-row-compute
    primitive.

    A single-row-group parquet file scans as ONE task no matter what
    maxPartitionBytes says, serializing every per-row expression (md5,
    regexp, higher-order folds) upstream of the first shuffle. Queries
    whose cost is dominated by such expressions call this on their input;
    shuffle-light queries must NOT (a blanket loader-level fan-out was
    measured a net loss: +0.1-0.5 s scheduling tax per cheap query against
    wins on only a handful of heavy ones). The guard makes it a no-op at
    cluster scale, where multi-split layouts already give scan parallelism
    >= cores — no shuffle is ever added at 100 TB. The explicit
    numPartitions pins the fan-out against AQE coalescing.
    """
    cpus = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cpus:
        return df.repartition(cpus)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir.rstrip("/"), name)
    if key not in _CACHE:
        configure(spark)
        path = f"{sf_dir.rstrip('/')}/{name}.parquet"
        df = spark.read.parquet(path)
        _RAW_SCHEMA[key] = df.schema
        if name == "events":
            # Fixture generations have shipped ts as INT64 TIMESTAMP(NANOS)
            # (arrives as a ns long under nanosAsLong=true) AND as plain
            # TIMESTAMP(MICROS) (arrives as a timestamp already) — dispatch
            # on the arriving type instead of assuming one generation.
            if isinstance(df.schema["ts"].dataType, LongType):
                # ns long → µs (exact integer div) → NTZ (UTC session).
                df = df.withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
                )
            else:
                df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        _CACHE[key] = df
    return _CACHE[key]


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet schema ``table`` found for ``name``, before any type
    fix-up; reads the footer only if the table is not loaded yet, and is
    exactly as fresh as the ``table`` cache."""
    table(spark, sf_dir, name)
    return _RAW_SCHEMA[(id(spark), sf_dir.rstrip("/"), name)]


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}
