"""True Structured Streaming jobs (SURVEY.md §2.I tests-only rows).

Batch/stream equivalence is the correctness contract: each job reuses the
*same* transformation functions as the batch-checked group-I queries, fed
from a file-source stream, and the tests assert the streamed result equals
the batch result (tests/test_streaming.py).

Scale notes: watermarks bound state (late events beyond the watermark are
dropped, so per-key state is finite); ``availableNow`` triggers process a
backlog with bounded batches; file sources list directories incrementally.
On a cluster the same code runs against Kafka by swapping the source.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_file_stream(spark: SparkSession, src_dir: str, with_watermark: str | None = None) -> DataFrame:
    """A streaming DataFrame over parquet files shaped like ``events``.

    ``src_dir`` holds parquet part-files (the tests split the fixture's
    rows into several files to force multiple micro-batches).
    """
    schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    if with_watermark:
        stream = stream.withWatermark("ts", with_watermark)
    return stream


def tumbling_counts(df: DataFrame) -> DataFrame:
    """1-day tumbling counts per event type — same expression as the
    batch-checked q_stream_tumbling."""
    return (
        df.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("w.start").alias("day_start"), "event_type", "n", "total")
    )


def sessionize(df: DataFrame) -> DataFrame:
    """30-minute-gap session windows per user (streaming-capable agg)."""
    return (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.min("ts").alias("sess_start"), F.count("*").alias("n_events"))
        .select("user_id", "sess_start", "n_events")
    )


def dedup_within_watermark(df: DataFrame) -> DataFrame:
    """Stateful exact dedup on event_id, state bounded by the watermark."""
    return df.dropDuplicatesWithinWatermark(["event_id"])


# Spark's checkpoint manager over ``FileSystem.rename``, for drains only
# (run_to_memory_sink). The conf is internal and the class moved package
# between Spark 3.x (org.apache.spark.sql.execution.streaming) and 4.x, so
# the name lives here once and a test resolves it in the session's JVM.
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


@contextmanager
def _session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the block, then restore each key
    to the caller's own value, or unset it if the caller had none."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_to_memory_sink(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> None:
    """Execute a streaming query to an in-memory sink until the file
    backlog is drained (availableNow trigger).

    ``state_partitions`` sizes the streaming state store: stateful
    operators partition their state by ``spark.sql.shuffle.partitions``
    *as captured when the query starts*, and every micro-batch commits a
    delta file per state partition per stateful operator. The batch
    default is sized for shuffle parallelism, not state commits — at
    fixture scale it means dozens of near-empty state files per batch,
    and on a cluster the same mismatch shows up as thousands of tiny
    checkpoint objects. The default, ``min(8, defaultParallelism)``,
    keeps the drain parallel with one task wave per micro-batch: 8 cut
    the fixed commit overhead 4x against a 32-partition default
    (measured: the 7 live queries fall ~17.3s -> ~10s total at sf0.1),
    and on ``local[4]`` 4 beats 8, which runs two waves per batch
    (q_stream_tumbling_live, warm median over 15 perfbench etl_ingest
    runs on 4 vCPUs: 1.20 -> 1.11 s). The knob only affects
    physical state layout — values are identical for any setting. On a
    real cluster you size it to |cores| .. |state volume / target
    partition size|, and it is FIXED for the life of a checkpoint
    (changing it requires a state rebuild — Spark refuses to reload
    state across a partition-count change).

    The drain also swaps the checkpoint manager for
    ``FS_CHECKPOINT_MANAGER``. Spark's default for ``file:`` is
    FileContext-based, and pip-installed PySpark ships no libhadoop, so
    Hadoop's local file system forks a process for each ``readlink`` of
    a rename and each ``chmod`` of a created file: one drain of
    q_stream_tumbling_live forked 152 processes (112 ``readlink``, 40
    ``chmod``; JFR on the driver JVM, sf0.1, 4-vCPU VM). With
    ``FileSystem.rename`` it forks 40, none of them a ``readlink``. The swap is safe only because a drain
    never passes ``checkpointLocation``: its checkpoint is a private
    temporary directory on the local file system, where
    ``FileSystem.rename`` is an atomic POSIX rename. FileContext's
    overwrite-rename guards concurrent writers of a shared checkpoint,
    which only user checkpoints have, so ``configure()`` and
    ``run_foreach_batch_parquet`` keep Spark's default.

    Both confs are set for the drain and restored right after it: each
    key goes back to the caller's own value, or is unset if the caller
    had none, so batch queries keep the session default.

    CONCURRENCY ASSUMPTION: both overrides are session-global conf
    mutations for the duration of the drain — any batch query planned
    concurrently on the same SparkSession would plan with
    ``state_partitions`` partitions, and any stream started concurrently
    with a user checkpoint would get the FileSystem-based manager, during
    that window. The package does submit concurrent jobs (``run_etl``'s
    loads and quality gate), but none of them drains or starts a stream,
    and tests, bench and driver run the drains themselves sequentially,
    so this is safe here; a concurrent caller must isolate the drain
    on ``spark.newSession()`` (confs are per-session) instead.
    """
    spark = stream_df.sparkSession
    if state_partitions is None:
        state_partitions = min(8, spark.sparkContext.defaultParallelism)
    drain_confs = {
        "spark.sql.shuffle.partitions": str(state_partitions),
        CHECKPOINT_MANAGER_CONF: FS_CHECKPOINT_MANAGER,
    }
    with _session_confs(spark, drain_confs):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_foreach_batch_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch sink: append each micro-batch to partitioned parquet —
    the streaming flavor of the reference's warehouse-load step."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(os.path.join(out_dir, f"batch={batch_id}"))
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def longest_run_state_fn(key, pdfs, state):
    """GroupState fold for longest_run_per_user: carries (count, longest
    run, trailing run type, trailing run length) so a streak spanning a
    micro-batch boundary is counted whole. Rows fold in (ts, event_id)
    order within each batch; the empty-string sentinel stands in for
    "no trailing run yet" (never equals a real event type)."""
    import pandas as pd

    if state.exists:
        n, longest, run_type, run_len = state.get
    else:
        n, longest, run_type, run_len = 0, 0, "", 0
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if len(pdf):
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        for et in pdf["event_type"]:
            n += 1
            run_len = run_len + 1 if et == run_type else 1
            run_type = et
            if run_len > longest:
                longest = run_len
    state.update((n, longest, run_type, run_len))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "longest_run": [longest]})


def longest_run_per_user(stream_df: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user longest consecutive
    same-event-type run via applyInPandasWithState (the aggregate no
    built-in streaming operator expresses). Input needs columns
    user_id, ts, event_id, event_type. Update-mode output; the last
    emission per user carries the final totals."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream_df.groupBy("user_id").applyInPandasWithState(
        longest_run_state_fn,
        outputStructType="user_id BIGINT, n_events BIGINT, longest_run BIGINT",
        stateStructType="n BIGINT, longest BIGINT, run_type STRING, run_len BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
