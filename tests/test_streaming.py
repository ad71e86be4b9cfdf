"""Structured Streaming tests (SURVEY.md §5.2.5).

Golden output = batch/stream equivalence: the same transformation fed from
a file-source stream must produce the batch result once the backlog drains
(complete mode). Watermark semantics (late-row dropping, bounded dedup
state) are asserted against hand-built multi-batch scenarios — the file
source takes oldest-mtime files first, so sequential writes give
deterministic micro-batch order.
"""

from __future__ import annotations

import shutil
import time
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_pipeline_etl_spark.sources.tables import table
from data_pipeline_etl_spark.streaming import jobs
from tests.conftest import SF_DIR

EVENT_COLS = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _write_batch(spark, src: str, rows) -> None:
    spark.createDataFrame(rows, EVENT_COLS).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.05)  # file source orders the backlog by mtime


@pytest.fixture()
def events_stream_dir(spark, tmp_path):
    """Fixture events split into 4 parquet files => 4 micro-batches."""
    src = str(tmp_path / "events_src")
    e = table(spark, SF_DIR, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    e.withColumn("bucket", F.col("event_id") % 4).repartition(4, "bucket").drop(
        "bucket"
    ).write.mode("overwrite").parquet(src)
    yield src
    shutil.rmtree(src, ignore_errors=True)


def test_stream_tumbling_equals_batch(spark, events_stream_dir):
    stream = jobs.events_file_stream(spark, events_stream_dir)
    jobs.run_to_memory_sink(jobs.tumbling_counts(stream), "tumbling_mem", "complete")
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM tumbling_mem").collect()}
    batch = {
        tuple(r)
        for r in jobs.tumbling_counts(
            table(spark, SF_DIR, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        ).collect()
    }
    assert streamed == batch


def test_stream_session_equals_batch(spark, events_stream_dir):
    """Complete-mode session aggregation over the drained backlog equals
    the batch sessionization exactly, regardless of micro-batch split."""
    stream = jobs.events_file_stream(spark, events_stream_dir)
    jobs.run_to_memory_sink(jobs.sessionize(stream), "session_mem", "complete")
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM session_mem").collect()}
    batch = {
        tuple(r)
        for r in jobs.sessionize(
            table(spark, SF_DIR, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        ).collect()
    }
    assert streamed == batch


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append mode: a row arriving behind the watermark is dropped, and
    only windows the watermark has passed are finalized.

    Three micro-batches (file source drains oldest-mtime first):
      b0: 10:00, 12:00  -> watermark after commit = 11:50
      b1: 13:00         -> watermark = 12:50
      b2: 10:30 (LATE)  -> behind 12:50, must be dropped
    """
    src = str(tmp_path / "late_src")
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-01 12:00:00"), 1, "view", 1.0, "{}"),
        ],
    )
    _write_batch(spark, src, [(3, _ts("2024-01-01 13:00:00"), 1, "view", 1.0, "{}")])
    _write_batch(spark, src, [(4, _ts("2024-01-01 10:30:00"), 1, "view", 1.0, "{}")])
    stream = jobs.events_file_stream(spark, src, with_watermark="10 minutes")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("h"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    got = {(str(r["h"]), r["n"]) for r in spark.sql("SELECT * FROM late_mem").collect()}
    assert dropped == 1  # exactly the late 10:30 row
    # Only the 10:00 window is finalized (n=1, late row excluded); the
    # 12:00 window's end (13:00) is past the final watermark (12:50).
    assert got == {("2024-01-01 10:00:00", 1)}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids across micro-batches are dropped by stateful
    dedup; state stays bounded by the watermark."""
    src = str(tmp_path / "dup_src")
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-01 10:01:00"), 1, "view", 1.0, "{}"),
        ],
    )
    _write_batch(
        spark,
        src,
        [
            (2, _ts("2024-01-01 10:01:30"), 1, "view", 1.0, "{}"),  # dup id
            (3, _ts("2024-01-01 10:02:00"), 1, "view", 1.0, "{}"),
        ],
    )
    stream = jobs.events_file_stream(spark, src, with_watermark="1 hour")
    deduped = jobs.dedup_within_watermark(stream)
    jobs.run_to_memory_sink(deduped.select("event_id"), "dedup_mem", "append")
    ids = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_mem").collect())
    assert ids == [1, 2, 3]


_DRAIN_CONFS = ("spark.sql.shuffle.partitions", jobs.CHECKPOINT_MANAGER_CONF)


@pytest.mark.parametrize("caller_set", [False, True], ids=["unset", "set"])
def test_drain_restores_callers_confs(spark, tmp_path, caller_set):
    """A drain overrides the state partitions and the checkpoint manager
    only for its own run: afterwards each conf is exactly the caller's —
    the same value if the caller set one, still unset if not."""
    src = str(tmp_path / "conf_src")
    _write_batch(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}")])
    caller = {
        "spark.sql.shuffle.partitions": "3",
        jobs.CHECKPOINT_MANAGER_CONF: jobs.FS_CHECKPOINT_MANAGER.replace(
            "FileSystemBased", "FileContextBased"
        ),
    }
    saved = {k: spark.conf.get(k, None) for k in _DRAIN_CONFS}
    try:
        for k in _DRAIN_CONFS:
            if caller_set:
                spark.conf.set(k, caller[k])
            else:
                spark.conf.unset(k)
        before = {k: spark.conf.get(k, None) for k in _DRAIN_CONFS}
        stream = jobs.events_file_stream(spark, src)
        jobs.run_to_memory_sink(jobs.tumbling_counts(stream), "conf_mem", "complete")
        after = {k: spark.conf.get(k, None) for k in _DRAIN_CONFS}
        assert spark.sql("SELECT n FROM conf_mem").collect() == [(1,)]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert before == (caller if caller_set else dict.fromkeys(_DRAIN_CONFS))
    assert after == before


def test_fs_checkpoint_manager_class_resolves(spark):
    """The drain's checkpoint-manager class exists in this Spark and is a
    CheckpointFileManager: a Spark upgrade that moves it fails here, not
    in every live query."""
    jvm = spark.sparkContext._jvm
    cls = jvm.java.lang.Class.forName(jobs.FS_CHECKPOINT_MANAGER)
    package = jobs.FS_CHECKPOINT_MANAGER.rsplit(".", 1)[0]
    base = jvm.java.lang.Class.forName(f"{package}.CheckpointFileManager")
    assert cls.getName() == jobs.FS_CHECKPOINT_MANAGER
    assert base.isAssignableFrom(cls)


def test_events_stream_builds_without_a_spark_job(spark):
    """After the session's first events read, building the live queries'
    events stream starts no Spark job: its schema comes from the footer
    the loader already read. A footer probe in the same job group is
    the control that the status tracker sees such a job."""
    from data_pipeline_etl_spark.streaming.batch_windows import _events_stream

    sc = spark.sparkContext
    status = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    table(spark, SF_DIR, "events")

    def jobs_in_fresh_group(build) -> int:
        group = f"events-stream-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "build the events stream")
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        bus.waitUntilEmpty(10_000)
        return len(status.getJobIdsForGroup(group))

    assert jobs_in_fresh_group(lambda: _events_stream(spark, SF_DIR)) == 0
    probe = lambda: spark.read.parquet(f"{SF_DIR}/events.parquet").schema  # noqa: E731
    assert jobs_in_fresh_group(probe) >= 1


def test_foreach_batch_parquet_sink(spark, events_stream_dir, tmp_path):
    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    stream = jobs.events_file_stream(spark, events_stream_dir)
    jobs.run_foreach_batch_parquet(stream.select("event_id", "ts", "user_id"), out, ckpt)
    written = spark.read.option("recursiveFileLookup", True).parquet(out)
    n_src = table(spark, SF_DIR, "events").count()
    assert written.select("event_id").distinct().count() == n_src


def test_update_mode_tumbling(spark, events_stream_dir):
    """Update output mode: the final state of updated windows matches the
    batch aggregation (rows re-emitted per batch, last write wins)."""
    stream = jobs.events_file_stream(spark, events_stream_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("day_start"), "event_type", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("upd_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # take the LAST emission per (window, type): equals the batch result
    emitted = spark.sql("SELECT * FROM upd_mem")
    from pyspark.sql import Window as W

    last = (
        emitted.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("day_start", "event_type").orderBy(F.desc("n"))
            ),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    batch = (
        table(spark, SF_DIR, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("day_start"), "event_type", "n")
    )
    assert {tuple(r) for r in last.collect()} == {tuple(r) for r in batch.collect()}


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream inner join with watermarks: view->purchase pairs per
    user within 30 minutes, across micro-batches."""
    src = str(tmp_path / "ss_src")
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-01 10:10:00"), 1, "purchase", 5.0, "{}"),
        ],
    )
    _write_batch(
        spark,
        src,
        [
            (3, _ts("2024-01-01 11:00:00"), 2, "view", 1.0, "{}"),
            (4, _ts("2024-01-01 11:45:00"), 2, "purchase", 9.0, "{}"),  # 45min: too late
            (5, _ts("2024-01-01 11:20:00"), 2, "purchase", 7.0, "{}"),  # in window
        ],
    )
    views = jobs.events_file_stream(spark, src, with_watermark="2 hours").where(
        F.col("event_type") == "view"
    ).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
    )
    purchases = jobs.events_file_stream(spark, src, with_watermark="2 hours").where(
        F.col("event_type") == "purchase"
    ).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("v_id", "p_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["v_id"], r["p_id"]) for r in spark.sql("SELECT * FROM ss_mem").collect()}
    assert got == {(1, 2), (3, 5)}  # the 45-min purchase never pairs


def test_apply_in_pandas_with_state(spark, tmp_path):
    """Custom stateful operator: running per-user event count maintained
    in GroupState across micro-batches (applyInPandasWithState)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = str(tmp_path / "st_src")
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-01 10:01:00"), 1, "view", 1.0, "{}"),
            (3, _ts("2024-01-01 10:02:00"), 2, "view", 1.0, "{}"),
        ],
    )
    _write_batch(
        spark,
        src,
        [
            (4, _ts("2024-01-01 10:03:00"), 1, "view", 1.0, "{}"),
            (5, _ts("2024-01-01 10:04:00"), 3, "view", 1.0, "{}"),
        ],
    )

    def running_count(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    stream = jobs.events_file_stream(spark, src, with_watermark="1 hour")
    counted = stream.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id BIGINT, n_events BIGINT",
        stateStructType="n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("state_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM state_mem").collect()
    final = {}
    for r in rows:  # last emission per user wins (update mode)
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["n_events"])
    assert final == {1: 3, 2: 1, 3: 1}  # state carried across batches


def test_transform_with_state_in_pandas(spark, tmp_path):
    """transformWithState (Spark 4.x successor to applyInPandasWithState):
    the same running per-user count carried across micro-batches, but via
    a StatefulProcessor with typed ValueState and the RocksDB-backed
    state store the new API requires. Mirrors
    test_apply_in_pandas_with_state so the two custom-stateful APIs are
    pinned to identical semantics.

    SKIPPED where google.protobuf is absent: the TWS driver worker's
    state-server protocol is protobuf-based (pyspark/sql/streaming/proto/
    StateMessage_pb2), so without the library the worker crashes at init
    — an environment limit, not an API-usage one (verified: the crash
    traceback ends in `ImportError: cannot import name 'descriptor' from
    'google.protobuf'`)."""
    import pandas as pd

    pytest.importorskip("google.protobuf")
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    src = str(tmp_path / "tws_src")
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-01 10:01:00"), 1, "view", 1.0, "{}"),
            (3, _ts("2024-01-01 10:02:00"), 2, "view", 1.0, "{}"),
        ],
    )
    _write_batch(
        spark,
        src,
        [
            (4, _ts("2024-01-01 10:03:00"), 1, "view", 1.0, "{}"),
            (5, _ts("2024-01-01 10:04:00"), 3, "view", 1.0, "{}"),
        ],
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count = handle.getValueState("count", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.events_file_stream(spark, src, with_watermark="1 hour")
        counted = stream.groupBy("user_id").transformWithStateInPandas(
            RunningCount(),
            outputStructType="user_id BIGINT, n_events BIGINT",
            outputMode="update",
            timeMode="none",
        )
        q = (
            counted.writeStream.format("memory")
            .queryName("tws_mem")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.unset(provider_key)
    rows = spark.sql("SELECT * FROM tws_mem").collect()
    final = {}
    for r in rows:  # last emission per user wins (update mode)
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["n_events"])
    assert final == {1: 3, 2: 1, 3: 1}  # state carried across batches


def test_late_live_query_drops_late_subset(spark):
    """The declared q_stream_late_live must exclude every row of its
    late-delivered subset (pre-Jan-15, event_id % 7 == 0) and emit only
    watermark-closed windows — asserted against the batch equivalents."""
    from data_pipeline_etl_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    res = {
        (str(r["day_start"]), r["event_type"]): (r["n"], r["total"])
        for r in QUERIES["q_stream_late_live"](spark, SF_DIR).collect()
    }

    e = table(spark, SF_DIR, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    late_pred = (F.col("ts") < cut) & (F.col("event_id") % 7 == 0)

    def daily(df):
        return {
            (str(r["day_start"]), r["event_type"]): (r["n"], r["total"])
            for r in df.groupBy(
                F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day_start"),
                "event_type",
            )
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
            .collect()
        }

    with_late = daily(e)
    without_late = daily(e.filter(~late_pred))

    # the live result's windows carry the no-late counts, never the full ones
    assert res
    for k, v in res.items():
        assert v == without_late[k], k
    # at least one emitted window actually differs (i.e. late rows existed
    # there and were dropped, not merely absent from the fixture)
    assert any(with_late[k] != res[k] for k in res)
    # only watermark-closed windows emit: the final (still-open) day is absent
    last_day = max(k[0] for k in with_late)
    assert all(k[0] != last_day for k in res)


def test_longest_run_streak_spans_batch_boundary(spark, tmp_path):
    """The GroupState fold behind q_stream_state_live must count a
    same-type streak that straddles a micro-batch boundary as ONE run:
    user 1 sends view,view in batch 0 and view,view,click in batch 1 —
    longest run is 4, not max(2, 3)."""
    src = str(tmp_path / "streak_src")
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-01 10:01:00"), 1, "view", 1.0, "{}"),
            (3, _ts("2024-01-01 10:00:30"), 2, "click", 1.0, "{}"),
        ],
    )
    _write_batch(
        spark,
        src,
        [
            (4, _ts("2024-01-01 10:02:00"), 1, "view", 1.0, "{}"),
            (5, _ts("2024-01-01 10:03:00"), 1, "view", 1.0, "{}"),
            (6, _ts("2024-01-01 10:04:00"), 1, "click", 1.0, "{}"),
            (7, _ts("2024-01-01 10:05:00"), 2, "click", 1.0, "{}"),
        ],
    )
    stream = jobs.events_file_stream(spark, src).select(
        "user_id", "ts", "event_id", "event_type"
    )
    jobs.run_to_memory_sink(jobs.longest_run_per_user(stream), "streak_mem", "update")
    rows = spark.sql("SELECT * FROM streak_mem").collect()
    final = {}
    for r in rows:  # update mode: the emission with the max count is final
        if r["n_events"] >= final.get(r["user_id"], (0, 0))[0]:
            final[r["user_id"]] = (r["n_events"], r["longest_run"])
    assert final[1] == (5, 4)  # 4-long view streak across the boundary
    assert final[2] == (2, 2)  # click streak accumulated across batches


def test_rocksdb_state_store_equals_batch(spark, events_stream_dir, tmp_path):
    """The RocksDB state store provider — the 100 TB streaming answer
    (state lives in per-partition on-disk RocksDB instances instead of
    executor heap, so keyed state can exceed memory) — must produce the
    exact batch result through the same tumbling aggregation, and its
    SST files in the checkpoint prove the provider actually backed the
    state rather than silently falling back to the default."""
    import os

    ckpt = str(tmp_path / "rocksdb_ckpt")
    key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            jobs.tumbling_counts(jobs.events_file_stream(spark, events_stream_dir))
            .writeStream.format("memory")
            .queryName("rocksdb_mem")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.unset(key)
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM rocksdb_mem").collect()}
    batch = {
        tuple(r)
        for r in jobs.tumbling_counts(
            table(spark, SF_DIR, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        ).collect()
    }
    assert streamed == batch
    ssts = [
        f
        for root, _dirs, files in os.walk(os.path.join(ckpt, "state"))
        for f in files
        if f.endswith(".sst") or f.endswith(".zip")
    ]
    assert ssts, "no RocksDB SST/snapshot files in the state checkpoint"


def test_checkpoint_restart_resumes_state(spark, tmp_path):
    """Exactly-once across restarts: drain part of the backlog, STOP,
    deliver more files, restart from the SAME checkpoint — the windowed
    aggregation must resume its state (not recount batch-0 rows, not
    miss them) and finish equal to the batch result over everything.
    This is the durability contract a 100 TB streaming job leans on
    every time an executor or driver dies mid-backlog."""
    import os

    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "restart_ckpt")
    os.makedirs(src)
    _write_batch(
        spark,
        src,
        [
            (1, _ts("2024-01-01 01:00:00"), 1, "view", 1.0, "{}"),
            (2, _ts("2024-01-01 02:00:00"), 1, "click", 2.0, "{}"),
            (3, _ts("2024-01-02 01:00:00"), 2, "view", 3.0, "{}"),
        ],
    )

    def drain():
        q = (
            jobs.tumbling_counts(jobs.events_file_stream(spark, src))
            .writeStream.format("memory")
            .queryName("restart_mem")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # run 1: only the first file exists
    first = {tuple(r) for r in spark.sql("SELECT * FROM restart_mem").collect()}
    assert sum(r[2] for r in first) == 3  # 3 rows aggregated so far
    _write_batch(
        spark,
        src,
        [
            (4, _ts("2024-01-01 03:00:00"), 1, "view", 4.0, "{}"),
            (5, _ts("2024-01-02 02:00:00"), 2, "click", 5.0, "{}"),
        ],
    )
    drain()  # run 2: same checkpoint, resumes where run 1 stopped
    resumed = {tuple(r) for r in spark.sql("SELECT * FROM restart_mem").collect()}
    batch = {
        tuple(r)
        for r in jobs.tumbling_counts(
            spark.read.schema(EVENT_COLS).parquet(src)
        ).collect()
    }
    assert resumed == batch
