"""End-to-end ETL pipeline test (reference lifecycle analog, SURVEY.md §3.1)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from data_pipeline_etl_spark.plans import pipeline
from data_pipeline_etl_spark.sources.tables import table
from tests.conftest import SF_DIR


def test_full_etl_run(spark, tmp_path):
    out = str(tmp_path / "warehouse")
    counts = pipeline.run_etl(spark, SF_DIR, out)
    n_cust = table(spark, SF_DIR, "customer").count()
    n_orders = table(spark, SF_DIR, "orders").count()
    assert counts["customer_dim"] == n_cust
    assert counts["order_fact"] == n_orders
    n_dates = table(spark, SF_DIR, "orders").select("o_orderdate").distinct().count()
    assert counts["time_dim"] == n_dates

    # fact measures reconcile with the source
    fact = spark.read.parquet(f"{out}/order_fact")
    src_rev = (
        table(spark, SF_DIR, "lineitem")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2))
        .collect()[0][0]
    )
    fact_rev = fact.agg(F.round(F.sum("revenue"), 2)).collect()[0][0]
    assert abs(fact_rev - src_rev) < 1.0  # per-order rounding to 4dp accumulates

    # partition layout prunes
    pruned = fact.where(F.col("o_year") == 1997)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # the run log counts what the files hold
    for name, n in counts.items():
        assert spark.read.parquet(f"{out}/{name}").count() == n


def test_etl_jobs_run_in_callers_job_group(spark, tmp_path):
    """Every job of the concurrent loads and the gate carries the caller's
    job group: none runs untagged."""
    sc = spark.sparkContext
    status = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = "test-etl-job-group"
    bus.waitUntilEmpty(10_000)
    untagged = set(status.getJobIdsForGroup(None))
    sc.setJobGroup(group, "run_etl")
    try:
        pipeline.run_etl(spark, SF_DIR, str(tmp_path / "warehouse"))
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty(10_000)
    assert set(status.getJobIdsForGroup(None)) <= untagged
    # at least one job per write plus the gate's collect
    assert len(status.getJobIdsForGroup(group)) >= 4


def _corrupt_fixture(spark, bad_dir: str) -> None:
    """A fixture copy where every 100th order points at a missing customer."""
    for t in ("orders", "customer", "lineitem", "nation", "region"):
        df = table(spark, SF_DIR, t)
        if t == "orders":
            # point some orders at a customer that doesn't exist
            df = df.withColumn(
                "o_custkey",
                F.when(F.col("o_orderkey") % 100 == 0, F.lit(999999999)).otherwise(
                    F.col("o_custkey")
                ),
            )
        df.write.mode("overwrite").parquet(f"{bad_dir}/{t}.parquet")


def test_dq_gate_catches_violations(spark, tmp_path):
    """Corrupt staging data must fail the quality gate (orphan FK)."""
    from data_pipeline_etl_spark.operators import quality

    bad_dir = str(tmp_path / "bad_sf")
    _corrupt_fixture(spark, bad_dir)

    checks = {r["check_name"]: r["n_bad"] for r in quality.q_dq_checks(spark, bad_dir).collect()}
    assert checks["orders_orphan_custkey"] > 0
    assert checks["customer_dup_pk"] == 0


def test_run_etl_fails_its_quality_gate(spark, tmp_path):
    bad_dir = str(tmp_path / "bad_sf")
    _corrupt_fixture(spark, bad_dir)
    with pytest.raises(ValueError, match="orders_orphan_custkey"):
        pipeline.run_etl(spark, bad_dir, str(tmp_path / "warehouse"))


def test_merge_upsert_scd1(spark):
    """Upsert: updates override current rows on the key; new keys insert."""
    cur = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k INT, v STRING, ver INT"
    )
    upd = spark.createDataFrame(
        [(2, "B", 21), (4, "d", 1)], "k INT, v STRING, ver INT"
    )
    out = {
        r["k"]: (r["v"], r["ver"])
        for r in pipeline.merge_upsert(cur, upd, "k", "ver").collect()
    }
    assert out == {1: ("a", 10), 2: ("B", 21), 3: ("c", 30), 4: ("d", 1)}


def test_merge_upsert_idempotent(spark):
    cur = spark.createDataFrame([(1, "a", 10)], "k INT, v STRING, ver INT")
    upd = spark.createDataFrame([(1, "A", 11)], "k INT, v STRING, ver INT")
    once = pipeline.merge_upsert(cur, upd, "k", "ver")
    twice = pipeline.merge_upsert(once, upd, "k", "ver")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_text_pipeline_composition(spark, tmp_path):
    out = str(tmp_path / "corpus")
    counts = pipeline.run_text_pipeline(spark, SF_DIR, out)
    # monotone funnel, nothing lost at the write
    assert counts["raw"] >= counts["after_dedup"] >= counts["after_quality"]
    assert counts["written"] == counts["after_quality"]
    assert counts["after_quality"] > 0
    back = spark.read.parquet(out)
    assert back.count() == counts["written"]
    # partition layout by lang prunes
    assert set(back.columns) == {"doc_id", "lang", "source", "n_tokens", "digest"}
    plan = back.where(F.col("lang") == "en")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_text_pipeline_all_rows_fail_quality(spark, tmp_path):
    """A corpus the quality gate empties writes nothing, and every stage
    count still arrives: an empty stage must not leave its row counter
    waiting."""
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "too short", "en", "web", 9), (2, "too  short", "en", "web", 10),
         (3, "also short", "de", "wiki", 10)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    result = {}
    worker = threading.Thread(
        target=lambda: result.update(
            pipeline.run_text_pipeline(spark, sf_dir, str(tmp_path / "corpus"))
        ),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive()
    assert result == {"raw": 3, "after_dedup": 2, "after_quality": 0, "written": 0}
