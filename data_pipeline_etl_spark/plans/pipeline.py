"""The end-to-end ETL pipeline (reference analog: the genre's ``etl.py``
driver, SURVEY.md §3.1 — staging → dimension load → fact load → data
quality), re-expressed as lazily-composed Spark job graphs.

Where the reference materializes each step into warehouse tables via
hand-ordered INSERT...SELECTs, here every step is a DataFrame; only the
final loads write, each as partitioned parquet. Catalyst fuses the whole
lineage — staging filters push into the scans of every downstream load.

The run log (rows per table, rows per stage) is a by-product of the
writes: each counted frame carries a ``DataFrame.observe`` row count that
the write's own job fills in, so no frame is counted by a separate action
and no output is re-read. An Observation is read only after the action
that runs it has returned: ``Observation.get`` blocks with no timeout
until that action completes.

The loads and the quality gate of ``run_etl`` read the same sources but
depend on no one's output, so they run as concurrent Spark jobs. At
fixture scale every scan is a single task; run one after another they
would leave all but one core idle.

Scale: dimension builds broadcast their lookups; the fact build is one
orderkey shuffle (bucket-able, see tests/test_bucketing.py); loads write
partitioned by the query-pruning key. The quality gate reuses q_dq_checks.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_pipeline_etl_spark.sources.tables import table


def build_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalized customer dimension: customer + nation + region."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "c_acctbal",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


def build_time_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature transform: a time dimension derived from
    the fact dates (hour/day/week/month/year/weekday)."""
    o = table(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderdate").alias("ts")).distinct()
    return d.select(
        "ts",
        F.year("ts").cast("long").alias("year"),
        F.quarter("ts").cast("long").alias("quarter"),
        F.month("ts").cast("long").alias("month"),
        F.dayofmonth("ts").cast("long").alias("day"),
        F.weekofyear("ts").cast("long").alias("week"),
        F.dayofweek("ts").cast("long").alias("weekday"),
    )


def build_order_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact table: one row per order with line-level measures rolled up."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    measures = l.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.sum("l_quantity").alias("total_qty"),
    )
    return o.join(measures, o.o_orderkey == measures.l_orderkey, "left").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("total_qty", F.lit(0.0)).alias("total_qty"),
    )


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter attached. Read it with ``_rows`` once an
    action that runs the returned frame has returned."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _rows(obs: Observation) -> int:
    return obs.get["rows"]


def _write_counted(df: DataFrame, path: str, *partition_by: str) -> int:
    """Overwrite ``path`` with ``df`` as parquet; return the rows written."""
    df, obs = _counted(df)
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    return _rows(obs)


def run_etl(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Full load: dims + fact written as partitioned parquet, plus the
    data-quality gate. Returns per-table row counts (the genre's run log),
    each observed on the frame its write ran, not re-read from the output.

    The three writes and the gate's ``collect`` are submitted together as
    concurrent Spark jobs, the fact first as the longest chain. Each runs
    with the caller's job group and local properties, so its jobs are
    traceable to the caller. Once all four have finished, a failed write
    re-raises its error; otherwise any failed quality check raises
    ``ValueError`` — the reference's post-load assert.
    """
    from data_pipeline_etl_spark.operators.quality import q_dq_checks

    fact = build_order_fact(spark, sf_dir).withColumn("o_year", F.year("o_orderdate"))
    loads = {
        "order_fact": (fact, ("o_year",)),
        "time_dim": (build_time_dim(spark, sf_dir), ("year",)),
        "customer_dim": (build_customer_dim(spark, sf_dir), ()),
    }
    dq = q_dq_checks(spark, sf_dir)

    # Each inheritable_thread_target(spark) call clones the caller's local
    # properties (job group, tags) once; wrapping every callable with its
    # own call keeps concurrent jobs from sharing one mutable copy, in
    # which each query execution sets its own id.
    with ThreadPoolExecutor(max_workers=len(loads) + 1) as pool:
        writes = {
            name: pool.submit(
                inheritable_thread_target(spark)(_write_counted),
                df,
                os.path.join(out_dir, name),
                *partition_by,
            )
            for name, (df, partition_by) in loads.items()
        }
        gate = pool.submit(inheritable_thread_target(spark)(dq.collect))
    written = {name: f.result() for name, f in writes.items()}

    bad = {r["check_name"]: r["n_bad"] for r in gate.result() if r["n_bad"] > 0}
    if bad:
        raise ValueError(f"data quality violations: {bad}")

    return {name: written[name] for name in ("customer_dim", "time_dim", "order_fact")}


def merge_upsert(
    current: DataFrame, updates: DataFrame, key: str, ordering: str
) -> DataFrame:
    """SCD-1 merge (upsert) without a table format: last-writer-wins by
    ``ordering`` across the union of current rows and updates.

    On a cluster this is the parquet-native merge: union + window keeps
    it one shuffle on the key; with Delta/Iceberg the same call becomes
    MERGE INTO. Deterministic given a unique (key, ordering) pair.
    """
    from pyspark.sql import Window

    tagged = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(F.desc("__src"), F.desc(ordering))
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def run_text_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Training-data pipeline composition: dedup → quality filter →
    featurize → partitioned write. Each stage is one of the declared
    operators' building blocks; this function is the end-to-end shape a
    100 TB corpus run takes (per-stage row accounting like the genre's
    run log). The stage counts are observed at each stage boundary of the
    single write, so the corpus is read once.
    """
    from pyspark.sql import Window

    d, raw = _counted(table(spark, sf_dir, "documents"))

    # 1. exact dedup on normalized content hash (keep min doc_id per hash)
    h = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
    w = Window.partitionBy("h").orderBy("doc_id")
    deduped, after_dedup = _counted(
        d.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("h", "rn")
    )

    # 2. quality gate: enough tokens, sane type/token ratio
    toks = F.split("text", " ")
    quality, after_quality = _counted(
        deduped.where(
            (F.size(toks) >= 20)
            & (F.size(F.array_distinct(toks)) / F.size(toks).cast("double") >= 0.2)
        )
    )

    # 3. featurize: token count + language marker + content digest
    featured = quality.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5("text").alias("digest"),
    )

    # 4. load: partitioned by lang (the downstream sampling key); the one
    # write runs every stage, and with them their row counters
    written = _write_counted(featured, out_dir, "lang")
    return {
        "raw": _rows(raw),
        "after_dedup": _rows(after_dedup),
        "after_quality": _rows(after_quality),
        "written": written,
    }
