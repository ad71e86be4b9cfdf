"""Group I — streaming-shaped operators, batch-checked over ``events``
(SURVEY.md §2.I). The same expressions run unchanged on a streaming
DataFrame (see streaming/jobs.py for the readStream + watermark variants).

Oracle construction notes:
- tumbling/sliding buckets are epoch-aligned exactly like Spark's
  ``F.window``; the DuckDB side reconstructs bucket starts from epoch
  microseconds via ``make_timestamp`` (naive, µs) so both sides hash as
  naive timestamps;
- session windows: Spark's ``session_window`` merges an event that lands
  exactly gap after the previous one (break predicate is delta > gap,
  strictly — pinned by tests/test_ops_edge.py::test_session_window_gap_
  boundary); the DuckDB gaps-and-islands oracle uses the same > break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_etl_spark.registry import query
from data_pipeline_etl_spark.sources.tables import raw_schema, table


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling window counts per event type (≡ date_trunc('day'))."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("day_start"),
            "event_type",
            "n",
            "total",
        )
    )


@query(
    "q_stream_sliding",
    oracle="""
    WITH base AS (
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS s0,
             event_type
      FROM events
    ),
    expanded AS (
      SELECT s0 AS win_start, event_type FROM base
      UNION ALL
      SELECT s0 - INTERVAL 30 MINUTE AS win_start, event_type FROM base
    )
    SELECT win_start, event_type, count(*) AS n
    FROM expanded
    GROUP BY win_start, event_type
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes: each event lands in 2 windows."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n",
        )
    )


@query(
    "q_stream_session",
    oracle="""
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM deltas
    )
    SELECT user_id,
           min(ts) AS sess_start,
           count(*) AS n_events,
           max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
    FROM sessions
    GROUP BY user_id, sess
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization per user via native session_window."""
    e = table(spark, sf_dir, "events")
    um = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("sess_start"),
            F.count("*").alias("n_events"),
            (F.max(um) - F.min(um)).alias("dur_us"),
        )
        .select("user_id", "sess_start", "n_events", "dur_us")
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type
    FROM (
      SELECT event_id, user_id, event_type FROM events
      UNION ALL
      SELECT event_id, user_id, event_type FROM events
    )
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by event_id over a deliberately duplicated input.

    Deterministic because the duplicate rows are identical; in streaming
    this is ``dropDuplicatesWithinWatermark`` (see streaming/jobs.py).
    """
    e = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return e.unionByName(e).dropDuplicates(["event_id"])


@query(
    "q_date_spine",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             count(*) AS n_events,
             round(sum(value), 6) AS total_value
      FROM events WHERE event_type = 'purchase' GROUP BY day
    )
    SELECT s.day,
           coalesce(d.n_events, 0) AS n_events,
           coalesce(d.total_value, CAST(0.0 AS DOUBLE)) AS total_value
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: every day in the event range, with
    zero-filled purchase rollups for days with no purchases.

    The time-series densification pattern: the spine is sequence() over
    the min/max bounds (a 2-row cross join — broadcast, trivially cheap
    even when the fact side is 100 TB), then a left join from spine to
    the daily aggregate.
    """
    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    bounds = e.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(day.alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


@query(
    "q_rollup_time",
    oracle="""
    WITH b AS (
      SELECT CAST(date_trunc('day', ts)  AS TIMESTAMP) AS day,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             value
      FROM events
    )
    SELECT day, hour,
           CAST(GROUPING(hour) AS BIGINT) AS g_hour,
           count(*) AS n,
           round(sum(value), 4) AS total
    FROM b
    GROUP BY GROUPING SETS ((day), (day, hour))
    """,
)
def q_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup (hourly + daily in one pass) — the
    hypertable continuous-aggregate shape.

    GROUPING SETS compiles to one Expand + a single partial→final
    aggregate, so both granularities cost one scan and one shuffle
    instead of two jobs; shuffle volume is bounded by |time buckets|,
    not |events|. grouping(hour) tags day-total rows apart from hour
    rows (hour itself is NULL there on both engines).
    """
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_rollup_v")
    return spark.sql(
        """
        WITH b AS (
          SELECT CAST(date_trunc('day', ts)  AS TIMESTAMP_NTZ) AS day,
                 CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ) AS hour,
                 value
          FROM events_rollup_v
        )
        SELECT day, hour,
               CAST(grouping(hour) AS BIGINT) AS g_hour,
               count(*) AS n,
               round(sum(value), 4) AS total
        FROM b
        GROUP BY GROUPING SETS ((day), (day, hour))
        """
    )


@query(
    "q_time_ohlc",
    oracle="""
    WITH r AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT) AS bin6h,
             value,
             row_number() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT)
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch_us(ts) / 21600000000) AS BIGINT)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bin6h,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n
    FROM r GROUP BY event_type, bin6h
    """,
)
def q_time_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: open/high/low/close of `value` per event_type
    per 6-hour bin — the financial-resample shape, and the general
    first/last-in-group-by-time problem WITHOUT a window: open/close
    resolve via min/max over (ts_us, event_id, value) structs inside
    the ordinary hash aggregate, so the whole query is one scan + one
    partial-combining shuffle keyed on (type, bin). A
    row_number-window formulation would sort every event inside every
    bin and cannot partial-aggregate; the struct-extremum trick
    carries one candidate per group per mapper instead — the same
    argument as q_cdc_compact, applied to time-series resampling.
    Bins are exact integer epoch-microsecond arithmetic (21600000000 =
    6 h), immune to timestamp canonicalization; (ts, event_id) is
    unique, so open/close are deterministic.
    """
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    binned = e.select(
        "event_type",
        F.floor(us / F.lit(21600000000)).cast("long").alias("bin6h"),
        us.alias("us"),
        "event_id",
        "value",
    )
    return binned.groupBy("event_type", "bin6h").agg(
        F.min(F.struct("us", "event_id", "value"))["value"].alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.struct("us", "event_id", "value"))["value"].alias("close"),
        F.count("*").alias("n"),
    )


_MEM_SINK_SEQ = iter(range(10**9))


def _events_stream(spark: SparkSession, sf_dir: str):
    """readStream over the events fixture with the same arriving-type
    dispatch as sources/tables.py: fixture generations ship ts as INT64
    TIMESTAMP(NANOS) (arrives BIGINT under nanosAsLong) or
    TIMESTAMP(MICROS) (arrives timestamp) — declare the matching
    streaming schema from the type the loader found, so building the
    stream starts no Spark job once the session has read events."""
    from data_pipeline_etl_spark.session import configure
    from pyspark.sql.types import LongType

    configure(spark)  # nanosAsLong and UTC for the stream's own read
    ns_long = isinstance(raw_schema(spark, sf_dir, "events")["ts"].dataType, LongType)
    schema = (
        f"event_id BIGINT, ts {'BIGINT' if ns_long else 'TIMESTAMP_NTZ'}, "
        "user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    )
    stream = (
        spark.readStream.schema(schema)
        # the file source requires a directory; pathGlobFilter selects the
        # events file out of the fixture dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    if ns_long:
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return stream


@query(
    "q_stream_tumbling_live",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregate executed as a REAL Structured
    Streaming job: parquet file source → windowed aggregation → memory
    sink, drained with an availableNow trigger — then hash-checked
    against the same DuckDB oracle as the batch q_stream_tumbling.

    This is the batch/stream equivalence contract surfaced through the
    driver: identical expressions, streaming execution, identical
    result. The file source swaps for Kafka on a cluster; availableNow
    processes the backlog in bounded micro-batches; complete-mode state
    is |windows × event_types|, not |events|. (Eager by necessity — a
    streaming query must run to produce its result table.)
    """
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("day_start"),
            "event_type",
            "n",
            "total",
        )
    )
    qname = f"mem_tumbling_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(agg, qname, output_mode="complete")
    return spark.table(qname)


@query(
    "q_stream_dedup_live",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming deduplication executed as a REAL Structured
    Streaming job: parquet file source → dropDuplicates over the key
    columns → append-mode memory sink, drained with availableNow.

    The second live-execution contract next to q_stream_tumbling_live:
    dropDuplicates keeps per-key state across micro-batches, so a key
    seen in batch 0 is suppressed in batch 7 — the semantics a batch
    DISTINCT gives for free but streaming must carry state for. The
    projection keeps ONLY the dedup keys, making the surviving row per
    key unique and the result order-insensitive (hash-checkable). State
    is |distinct keys|; production caps it with
    dropDuplicatesWithinWatermark (tests/test_streaming.py exercises the
    watermarked variant).
    """
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    dedup = (
        _events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    qname = f"mem_dedup_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(dedup, qname, output_mode="append")
    return spark.table(qname)


@query(
    "q_stream_late_live",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total
    FROM events
    WHERE NOT (ts < TIMESTAMP '2024-01-15 00:00:00' AND event_id % 7 = 0)
    GROUP BY 1, 2
    HAVING CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
             <= (SELECT w FROM wm)
    """,
)
def q_stream_late_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics executed as a REAL Structured
    Streaming job and hash-checked end to end — the fourth live contract,
    covering the one streaming behavior users most often get wrong: what
    happens to data that arrives AFTER the watermark has passed it.

    Delivery rig: events are staged into three parquet files delivered
    oldest-mtime-first under ``maxFilesPerTrigger=1`` —
    batch 0 = on-time rows before Jan 20, batch 1 = on-time rows from
    Jan 20 on, batch 2 = the "late" subset (a deterministic 1-in-7
    sample of pre-Jan-15 rows) arriving ~15 days after its event time.
    Three files, not two, because Spark keeps TWO watermarks per batch
    (SPARK-42376): the LATE-EVENT filter uses the previous batch's
    watermark while state EVICTION uses the current one — a late file in
    batch 1 would still see the epoch filter watermark and be admitted
    (measured: 0 dropped with 2 files, all dropped with 3).

    With a 1-hour watermark delay the batch-2 rows are ~15 days late,
    so every one is dropped; append mode then emits exactly the windows
    whose end <= final watermark (max event time - 1h) — the last,
    still-open day stays in state and is never emitted. The oracle
    states both rules in SQL: exclude the late sample, keep windows
    closed by ``max(ts) - INTERVAL 1 HOUR``.

    Scale note: the coalesce(1) staging writes are the delivery-order
    test rig, not the operator; on a cluster the source is Kafka and the
    same withWatermark + window + append pipeline runs unchanged. State
    is bounded at |open windows x event_types| BECAUSE of the watermark
    — the whole point of declaring it.
    """
    import glob as _glob
    import os
    import shutil
    import tempfile

    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    e = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    split = F.lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    late_pred = (F.col("ts") < cut) & (F.col("event_id") % 7 == 0)
    parts = [
        ("early", e.filter(~late_pred & (F.col("ts") < split))),
        ("recent", e.filter(~late_pred & (F.col("ts") >= split))),
        ("late", e.filter(late_pred)),
    ]
    tmp = tempfile.mkdtemp(prefix="q_stream_late_live_")
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        for idx, (tag, df) in enumerate(parts):
            stage = os.path.join(tmp, tag)
            # watermarks require TIMESTAMP (LTZ); the NTZ->LTZ cast and the
            # NTZ cast-back below use the same session zone, so wall-clock
            # day boundaries round-trip for any driver timezone
            df.withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(stage)
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(in_dir, f"{idx}_{tag}.parquet")
            shutil.move(part, dst)
            # distinct mtimes pin the file->micro-batch order
            os.utime(dst, (1_700_000_000 + idx * 100, 1_700_000_000 + idx * 100))
        schema = (
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withWatermark("ts", "1 hour")
        )
        agg = (
            stream.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("day_start"),
                "event_type",
                "n",
                "total",
            )
        )
        qname = f"mem_late_live_{next(_MEM_SINK_SEQ)}"
        run_to_memory_sink(agg, qname, output_mode="append")
        # the memory sink is fully materialized; the staged files can go
        return spark.table(qname)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q_stream_session_live",
    oracle="""
    WITH deltas AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM deltas
    )
    SELECT user_id,
           min(ts) AS sess_start,
           count(*) AS n_events,
           max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
    FROM sessions
    GROUP BY user_id, sess
    """,
)
def q_stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization executed as a REAL Structured
    Streaming job (file source → session-window state → complete-mode
    memory sink, availableNow drain) — the third live-execution contract,
    covering MERGING window state: unlike tumbling windows, session
    windows grow and fuse as events arrive, so the state store must merge
    adjacent sessions across micro-batches. Hash-checked against the same
    gap-based SQL oracle as batch q_stream_session; state is
    |users × sessions|, capped with a watermark in production
    (complete mode here because the fixture is a bounded backlog).
    """
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    stream = _events_stream(spark, sf_dir)
    um = F.unix_micros(F.col("ts").cast("timestamp"))
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("sess_start"),
            F.count("*").alias("n_events"),
            (F.max(um) - F.min(um)).alias("dur_us"),
        )
        .select("user_id", "sess_start", "n_events", "dur_us")
    )
    qname = f"mem_session_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(agg, qname, output_mode="complete")
    return spark.table(qname)


@query(
    "q_time_ffill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS hi
      FROM events
    ),
    days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    spine AS (SELECT user_id, day FROM users CROSS JOIN days),
    daily AS (
      SELECT user_id, day, value AS day_close FROM (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               value,
               row_number() OVER (
                 PARTITION BY user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    )
    SELECT s.user_id, s.day,
           last_value(d.day_close IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s
    LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def q_time_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill over a dense per-user calendar: each user's last
    purchase value of the day, carried forward across days with no
    purchase (last observation carried forward — the other half of
    time-series densification next to q_date_spine's zero-fill).

    Determinism: "last value of the day" is pinned by (ts desc,
    event_id desc) row_number on both engines — never a bare last()
    over an unordered group. Days before a user's first purchase stay
    NULL identically on both sides. Scale shape: the spine is
    |users| x |days| built from a broadcast day list (30 rows); the
    fill window partitions per user and orders by day — state is one
    value per user, and no corpus-scale data moves through the window
    (daily is pre-aggregated to one row per user-day).
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", day.alias("day"), "value", "ts", "event_id")
        .withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("day_close"))
    )
    bounds = e.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    spine = e.select("user_id").distinct().crossJoin(F.broadcast(days))
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("filled_value", F.last("day_close", ignorenulls=True).over(wf))
        .select("user_id", "day", "filled_value")
    )


@query(
    "q_stream_sliding_live",
    oracle="""
    WITH base AS (
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS s0,
             event_type
      FROM events
    ),
    expanded AS (
      SELECT s0 AS win_start, event_type FROM base
      UNION ALL
      SELECT s0 - INTERVAL 30 MINUTE AS win_start, event_type FROM base
    )
    SELECT win_start, event_type, count(*) AS n
    FROM expanded
    GROUP BY win_start, event_type
    """,
)
def q_stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-hour/30-minute sliding window executed as a REAL Structured
    Streaming job (file source → overlapping-window state → complete-mode
    memory sink, availableNow drain) — the fifth live contract, covering
    MULTI-ASSIGNMENT state: every event updates two window rows, so the
    state store carries |windows x event_types| entries with each event
    folded into overlapping keys. Hash-checked against the same
    window-expansion SQL oracle as batch q_stream_sliding; in production
    a watermark bounds how long a window row stays in state, and the
    file source swaps for Kafka with the pipeline unchanged.
    """
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n",
        )
    )
    qname = f"mem_sliding_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(agg, qname, output_mode="complete")
    return spark.table(qname)


@query(
    "q_stream_join_live",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_sec
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    """,
)
def q_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed as a REAL Structured
    Streaming job — the sixth live contract, covering TWO-SIDED state:
    each purchase joins every click by the same user in the preceding
    30 minutes, with both sides arriving as streams (two file sources
    over the same backlog, watermarked, append-mode memory sink,
    availableNow drain). Hash-checked against the plain SQL interval
    join.

    This is the streaming semantics batch users hit first when they
    move a funnel join to a stream: BOTH sides buffer in the state
    store until the watermark passes the time-range bound, because a
    match can arrive on either side first. The equality key (user_id)
    plus the time-range condition is exactly what Spark requires to
    bound that state — remove either and the state store must hold a
    side forever. The fixture backlog drains in one micro-batch per
    side, so no row is evicted before its matches arrive and the
    result equals the batch join exactly; on a cluster the same
    pipeline runs against two Kafka topics with the watermark actually
    evicting, and the join emits matches incrementally.

    Output is integer-only (ids + whole-second gap), so the hash check
    is immune to timestamp canonicalization differences.
    """
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    def side(alias_id: str, etype: str, ts_name: str):
        s = _events_stream(spark, sf_dir).where(F.col("event_type") == etype)
        return s.select(
            F.col("event_id").alias(alias_id),
            F.col("user_id").alias(f"{ts_name}_user"),
            F.col("ts").cast("timestamp").alias(ts_name),
        ).withWatermark(ts_name, "40 days")

    p = side("purchase_id", "purchase", "p_ts")
    c = side("click_id", "click", "c_ts")
    joined = p.join(
        c,
        (F.col("p_ts_user") == F.col("c_ts_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "purchase_id",
        "click_id",
        F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000").alias("gap_sec"),
    )
    qname = f"mem_join_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(joined, qname, output_mode="append")
    return spark.table(qname)


@query(
    "q_stream_state_live",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rnt
      FROM events
    ),
    runs AS (
      SELECT user_id, rn - rnt AS grp, count(*) AS run_len
      FROM ordered GROUP BY user_id, event_type, rn - rnt
    )
    SELECT user_id,
           CAST(sum(run_len) AS BIGINT) AS n_events,
           CAST(max(run_len) AS BIGINT) AS longest_run
    FROM runs GROUP BY user_id
    """,
)
def q_stream_state_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator executed LIVE — the seventh
    live contract, and the one that exercises arbitrary user state:
    applyInPandasWithState maintains per-user (count, longest
    same-event-type run, trailing run type/length) in GroupState and
    folds each micro-batch's rows into it in (ts, event_id) order.

    "Longest consecutive same-type run" is deliberately an aggregate no
    built-in streaming operator expresses — the case for which
    applyInPandasWithState exists. The trailing run carries across
    micro-batches so a streak spanning a batch boundary is counted
    whole; the fixture backlog is one parquet file → one micro-batch,
    making the update-mode emission exactly one row per user and the
    result hash-checkable against the batch gaps-and-islands oracle
    (run = rn - rn_by_type grouping). Integer-only output.

    Scale: state is O(1) per user (four scalars), partitioned by the
    group key across the cluster; Python sees Arrow batches per key.
    This is the declared Python surface by design — the plan gate
    allowlists it next to the other UDF-surface queries.
    """
    from data_pipeline_etl_spark.streaming.jobs import (
        longest_run_per_user,
        run_to_memory_sink,
    )

    stream = _events_stream(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id", "event_type"
    )
    counted = longest_run_per_user(stream)
    qname = f"mem_state_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(counted, qname, output_mode="update")
    return spark.table(qname)


@query(
    "q_stream_cdc_live",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_versions
      FROM events
    )
    SELECT user_id, CAST(n_versions AS BIGINT) AS n_versions,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
           event_type AS last_type, value AS last_value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_stream_cdc_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins compaction executed LIVE as a streaming job — the
    eighth live contract: the same max(struct) merge as the batch
    q_cdc_compact (operators/warehouse.py), but maintained
    incrementally by the streaming aggregation state store in update
    mode, with the tombstone filter applied AFTER the stateful merge
    (a filter before it would resurrect superseded versions; after it,
    the filter is a stateless projection over each batch's updated
    keys). This is the continuously-materialized current-state table of
    the upsert-stream genre: every micro-batch emits exactly the keys
    it changed.

    The fixture backlog drains in one availableNow micro-batch, so
    update mode emits one row per live key and the result equals the
    batch compaction — hash-checked against the same window oracle.
    State is one struct per key (the merge is associative and
    commutative, so partial aggregation applies within each batch
    before the state update); no watermark is attached because CDC
    current-state is exactly the thing that must never age out — state
    size is O(live keys) by design, the same bound the compacted table
    itself has. Output timestamps are integer microseconds per the
    live family's canonicalization discipline.
    """
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    stream = _events_stream(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type", "value",
    )
    merged = (
        stream.groupBy("user_id")
        .agg(
            F.count("*").alias("n_versions"),
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias("last"),
        )
        .where(F.col("last.event_type") != "error")
        .select(
            "user_id",
            "n_versions",
            F.unix_micros("last.ts").alias("last_ts_us"),
            F.col("last.event_type").alias("last_type"),
            F.col("last.value").alias("last_value"),
        )
    )
    qname = f"mem_cdc_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(merged, qname, output_mode="update")
    return spark.table(qname)


@query(
    "q_time_interp",
    oracle="""
    WITH obs AS (
      SELECT event_type, epoch_us(ts) AS t, min(value) AS v
      FROM events GROUP BY event_type, epoch_us(ts)
    ),
    b AS (
      SELECT event_type,
             CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
      FROM events GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS gts
      FROM b
    ),
    u AS (
      SELECT event_type, t, CAST(NULL AS TIMESTAMP) AS gts, 0 AS is_grid,
             t AS obs_t, v AS obs_v
      FROM obs
      UNION ALL
      SELECT event_type, epoch_us(gts), gts, 1,
             CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
      FROM grid
    ),
    wined AS (
      SELECT event_type, t, gts, is_grid,
        last_value(obs_t IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY t, is_grid
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        last_value(obs_v IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY t, is_grid
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        first_value(obs_t IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY t, is_grid
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
        first_value(obs_v IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY t, is_grid
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM u
    )
    SELECT event_type, gts,
      CASE WHEN t = pt THEN pv
           ELSE pv + (nv - pv) *
                (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
      END AS v_interp
    FROM wined
    WHERE is_grid = 1 AND pt IS NOT NULL AND (nt IS NOT NULL OR pt = t)
    """,
)
def q_time_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto a regular hourly grid per feed — the
    resampling third of the densification trio (q_date_spine zero-fill,
    q_time_ffill carry-forward, this one interpolates BETWEEN
    bracketing observations).

    No grid-to-observation range join anywhere: grid points and
    observations are unioned into one frame, tagged, and a single
    per-feed window sort yields BOTH neighbors — prev via
    last(ignorenulls) over the preceding frame, next via
    first(ignorenulls) over the following frame (same partitioning and
    sort, so Spark executes one shuffle + one sort and evaluates both
    frames in the same WindowExec pass). Duplicate-timestamp
    observations are collapsed with min() first so the bracketing pair
    is deterministic. All time arithmetic is exact integer
    microseconds; the interpolation expression tree is mirrored
    operation-for-operation in the oracle so doubles match bitwise.
    Grid points before a feed's first observation are dropped on both
    sides; a grid point landing exactly on the last observation keeps
    its observed value even with no following neighbor.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    obs = (
        e.groupBy("event_type", t_us.alias("t"))
        .agg(F.min("value").alias("v"))
        .select(
            "event_type",
            "t",
            F.lit(None).cast("timestamp_ntz").alias("gts"),
            F.lit(0).alias("is_grid"),
            F.col("t").alias("obs_t"),
            F.col("v").alias("obs_v"),
        )
    )
    bounds = e.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).cast("timestamp_ntz").alias("lo"),
        F.date_trunc("hour", F.max("ts")).cast("timestamp_ntz").alias("hi"),
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("gts"),
    ).select(
        "event_type",
        F.unix_micros(F.col("gts").cast("timestamp")).alias("t"),
        "gts",
        F.lit(1).alias("is_grid"),
        F.lit(None).cast("long").alias("obs_t"),
        F.lit(None).cast("double").alias("obs_v"),
    )
    u = obs.unionByName(grid)
    # Both neighbors via UNBOUNDED PRECEDING frames only: Spark streams
    # a growing frame incrementally, but re-evaluates an UNBOUNDED
    # FOLLOWING frame from scratch at every row — O(rows^2) per feed
    # (measured 76 s at sf0.1 before this rewrite). The "next" neighbor
    # therefore runs last(ignorenulls) over the REVERSED sort
    # (t desc, is_grid desc keeps the equal-timestamp observation out of
    # the grid row's frame, mirroring the ascending exclusion); the two
    # WindowExecs share one hash partitioning on event_type — one
    # shuffle, two in-partition sorts.
    wp = Window.partitionBy("event_type").orderBy("t", "is_grid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("t"), F.desc("is_grid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wined = u.select(
        "event_type",
        "t",
        "gts",
        "is_grid",
        F.last("obs_t", ignorenulls=True).over(wp).alias("pt"),
        F.last("obs_v", ignorenulls=True).over(wp).alias("pv"),
        F.last("obs_t", ignorenulls=True).over(wn).alias("nt"),
        F.last("obs_v", ignorenulls=True).over(wn).alias("nv"),
    )
    frac = (F.col("t") - F.col("pt")).cast("double") / (
        F.col("nt") - F.col("pt")
    ).cast("double")
    return wined.where(
        (F.col("is_grid") == 1)
        & F.col("pt").isNotNull()
        & (F.col("nt").isNotNull() | (F.col("pt") == F.col("t")))
    ).select(
        "event_type",
        "gts",
        F.when(F.col("t") == F.col("pt"), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("v_interp"),
    )


@query(
    "q_time_seasonal_dow",
    oracle="""
    WITH per AS (
      SELECT event_type, isodow(ts) AS dow,
             count(*) AS n, sum(value) AS s
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(s) AS ts_, sum(n) AS tn
      FROM per GROUP BY event_type
    )
    SELECT per.event_type, CAST(dow AS INT) AS dow, n,
           round(s / n, 6) AS dow_avg,
           round((s / n) / (ts_ / tn), 6) AS seasonal_idx
    FROM per JOIN tot ON per.event_type = tot.event_type
    """,
)
def q_time_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per feed: each ISO weekday's mean
    value and its index against the feed's overall mean (index > 1 =
    that weekday runs hot) — the first screen for weekly periodicity
    before any forecasting.

    One groupBy to the 35-row (feed × weekday) frame carrying sum and
    count partials; the feed-level mean RE-AGGREGATES those partials
    (sum of 7 sums — no second corpus scan) and joins back broadcast.
    Both ratios are formed from the same partials with a mirrored
    expression tree and the repo's round-6 float-fold convention.
    """
    from pyspark.sql import Window  # noqa: F401  (module convention)

    e = table(spark, sf_dir, "events")
    per = e.groupBy(
        "event_type", (F.weekday("ts") + 1).cast("int").alias("dow")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    tot = per.groupBy("event_type").agg(
        F.sum("s").alias("ts_"), F.sum("n").alias("tn")
    )
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "n",
        F.round(F.col("s") / F.col("n"), 6).alias("dow_avg"),
        F.round(
            (F.col("s") / F.col("n")) / (F.col("ts_") / F.col("tn")), 6
        ).alias("seasonal_idx"),
    )


@query(
    "q_time_ewma",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER w AS rn,
             value + 0.7 * (lag(value, 1) OVER w + 0.7 * (lag(value, 2) OVER w
               + 0.7 * (lag(value, 3) OVER w + 0.7 * (lag(value, 4) OVER w
               + 0.7 * (lag(value, 5) OVER w + 0.7 * (lag(value, 6) OVER w
               + 0.7 * (lag(value, 7) OVER w + 0.7 * (lag(value, 8) OVER w
               + 0.7 * (lag(value, 9) OVER w))))))))) AS num
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, ts, value,
           round(num / 3.2391749169999997, 6) AS ewma10
    FROM t WHERE rn >= 10
    """,
)
def q_time_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.3) of each user's
    metric stream over the trailing 10 observations — the smoothing
    primitive under alerting thresholds and trend lines.

    EWMA's textbook form is a recurrence (each row depends on the
    previous smoothed value), which no engine's window frame expresses
    directly; the trailing-k truncation turns it into a fixed LAG CHAIN,
    one window pass, no self-join. The weighted sum is written in HORNER
    FORM (x0 + 0.7*(x1 + 0.7*(x2 + ...))) with an identical nesting in
    the oracle, so both engines execute the same IEEE expression tree
    bit-for-bit — no order-of-summation hazard at all, unlike a
    sum-over-frame formulation. Rows before the window fills (rn < 10)
    are dropped so the normalizer is the constant Horner fold of the ten
    weights (3.2391749169999997 in both texts). One shuffle (the window
    partitioning); weight count is a literal-tree constant, so scaling
    the trailing depth k grows the expression, not the shuffle.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lag("value", 9).over(w)
    for k in range(8, 0, -1):
        num = F.lag("value", k).over(w) + 0.7 * num
    num = F.col("value") + 0.7 * num
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.row_number().over(w).alias("rn"),
            num.alias("num"),
        )
        .where(F.col("rn") >= 10)
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.round(F.col("num") / F.lit(3.2391749169999997), 6).alias("ewma10"),
        )
    )


@query(
    "q_stream_topk_live",
    oracle="""
    SELECT user_id, n, total FROM (
      SELECT user_id, count(*) AS n, round(sum(value), 4) AS total
      FROM events GROUP BY user_id
    ) ORDER BY total DESC, user_id LIMIT 10
    """,
)
def q_stream_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live leaderboard — the ninth live-execution contract: a REAL
    Structured Streaming job maintaining the global top-10 users by
    accumulated value, re-emitted complete each micro-batch.

    Sort + LIMIT on a streaming DataFrame is legal ONLY in complete
    mode after an aggregation (append/update would need to retract
    rows that fall out of the top-k) — this query exercises exactly
    that capability edge, which none of the other eight live contracts
    touch. State is |users| aggregate rows; the sort runs over the
    aggregate result, not the stream. The tiebreak (total DESC,
    user_id) makes the emitted set deterministic, and the 4 dp rounding
    happens BEFORE the sort on both engines so the cut line is the
    same rounded value cross-engine.
    """
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .orderBy(F.desc("total"), "user_id")
        .limit(10)
    )
    qname = f"mem_topk_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(agg, qname, output_mode="complete")
    return spark.table(qname)


@query(
    "q_time_changepoint",
    oracle="""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 10000) AS BIGINT) AS v
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY user_id) AS n,
             sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(v) OVER (PARTITION BY user_id) AS total
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    shifts AS (
      SELECT user_id, ts, rn, CAST(n AS BIGINT) AS n,
             abs(CAST(cum AS DOUBLE) / CAST(rn AS DOUBLE)
                 - CAST(total - cum AS DOUBLE) / CAST(n - rn AS DOUBLE))
               AS shift
      FROM s
      WHERE n >= 20 AND rn >= 5 AND rn <= n - 5
    )
    SELECT user_id, ts AS split_ts, n,
           round(shift / 10000.0, 6) AS mean_shift
    FROM (
      SELECT user_id, ts, n, shift,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY shift DESC, rn) AS pick
      FROM shifts
    ) WHERE pick = 1
    """,
)
def q_time_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint screen per metric stream: the split position
    maximizing |mean(prefix) − mean(suffix)| — the offline mean-shift
    detector that flags level changes (deploys, pricing changes, sensor
    drift) before heavier models run.

    Parity discipline — learned the hard way: the first draft ran the
    cumulative sum over raw doubles, assuming both engines fold the
    running window sequentially; DuckDB evaluates window sums with a
    SEGMENT TREE (pairwise order), so cumulative bits diverged and
    argmaxes flipped at sf0.1. The detector therefore QUANTIZES to
    1e-4 units with floor() first (floor of identical input bits is
    identical — no rounding-mode hazard), making every running sum and
    partition total EXACT integer arithmetic, order-free on any
    engine; the split means are then integer-derived doubles,
    bit-identical by construction (cf. q_agg_decimal_exact's
    integer-cents convention).

    Plan: one shuffle on user_id; prefix mean = cum/i and suffix mean
    = (total−cum)/(n−i) come from a single running-sum pass — O(n)
    splits, O(1) state per row. Min-segment-5 and n ≥ 20 floors keep
    edge splits out; argmax is shift DESC, earliest-split tiebreak.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    q = e.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = q.select(
        "user_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("n"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("v").over(Window.partitionBy("user_id")).alias("total"),
    )
    shifts = s.where(
        (F.col("n") >= 20) & (F.col("rn") >= 5) & (F.col("rn") <= F.col("n") - 5)
    ).select(
        "user_id",
        "ts",
        "rn",
        F.col("n").cast("long").alias("n"),
        F.abs(
            F.col("cum").cast("double") / F.col("rn").cast("double")
            - (F.col("total") - F.col("cum")).cast("double")
            / (F.col("n") - F.col("rn")).cast("double")
        ).alias("shift"),
    )
    pick = Window.partitionBy("user_id").orderBy(F.desc("shift"), "rn")
    return (
        shifts.withColumn("pick", F.row_number().over(pick))
        .where(F.col("pick") == 1)
        .select(
            "user_id",
            F.col("ts").alias("split_ts"),
            "n",
            F.round(F.col("shift") / 10000.0, 6).alias("mean_shift"),
        )
    )


@query(
    "q_time_autocorr",
    oracle="""
    WITH lagged AS (
      SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
           round(covar_samp(value, prev)
                   / (stddev_samp(value) * stddev_samp(prev)), 6) AS ac1
    FROM lagged WHERE prev IS NOT NULL
    GROUP BY user_id HAVING count(*) >= 20
    """,
)
def q_time_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per metric stream — the one-number
    persistence screen run before any forecasting: ac1 ≈ 0 says the
    feed is noise (model the mean), ac1 → 1 says momentum (model the
    delta), ac1 < 0 says oscillation/overcorrection.

    One window pass pairs each value with its predecessor (same
    partitioning the EWMA and changepoint screens use — at scale all
    three share one shuffle of the metric table), then corr() — a
    MERGEABLE moment aggregate (partial co-moments combine map-side,
    same shape as q_agg_stats/q_corr_regr whose cross-engine equality
    §2.1 #6 verified) — collapses each stream to one coefficient.
    The n ≥ 20 floor drops streams too short for the estimate to mean
    anything.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.select(
        "user_id", "value", F.lag("value").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    # Degenerate-stream guard (ADVICE r8): on a zero-variance stream
    # Spark 4's ANSI-mode corr() THROWS DIVIDE_BY_ZERO (not NaN) while
    # DuckDB corr() returns NULL — so both sides spell Pearson r out as
    # covar_samp / (stddev·stddev), the identical expression tree, with
    # try_divide on the Spark side matching DuckDB's native NULL-on-zero
    # division. All three moments stay mergeable partial aggregates.
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.try_divide(
                    F.covar_samp("value", "prev"),
                    F.stddev_samp("value") * F.stddev_samp("prev"),
                ),
                6,
            ).alias("ac1"),
        )
        .where(F.col("n_pairs") >= 20)
    )


def _psi_live_oracle() -> str:
    from data_pipeline_etl_spark.operators.quality import _PSI_ORACLE

    return _PSI_ORACLE


@query("q_stream_psi_live", oracle=_psi_live_oracle())
def q_stream_psi_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live drift monitor — the tenth live-execution contract: a REAL
    Structured Streaming job maintains the per-(event_type, value-bucket,
    snapshot-half) count state in complete mode, and the PSI reduction
    (shared verbatim with q_profile_psi via quality.psi_from_counts)
    runs over the memory-sink state each trigger. This is the deployed
    shape of a drift gate: the DATA-SIZED work — bucket counting — is
    the streaming aggregation's incremental state (|types| x 10 x 2
    rows, updated per micro-batch, never a rescan), while the monitor's
    formula runs over that tiny state table. Streaming forbids chained
    aggregations in one query, so the count state/PSI split is not a
    style choice — it is the only scalable factoring, and it mirrors
    how a production monitor reads its counts from a state store.

    Batch-equivalence: after availableNow drains the backlog, the sink
    holds exactly the batch count frame, so the PSI output equals
    q_profile_psi's — one oracle text serves both (quality._PSI_ORACLE).
    """
    from data_pipeline_etl_spark.operators.quality import psi_from_counts
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    counts = (
        _events_stream(spark, sf_dir)
        .select(
            "event_type",
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("is_a"),
            F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("is_a").alias("n_a"), F.sum(1 - F.col("is_a")).alias("n_b"))
    )
    qname = f"mem_psi_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(counts, qname, output_mode="complete")
    # lazy localCheckpoint: psi_from_counts self-joins its input (spine
    # derivation + left join), and two references to one MemorySink view
    # trip Spark 4.1's analyzer with conflicting attribute ids; the
    # checkpoint renumbers the leaf. The frame is |types| x 10 rows.
    return psi_from_counts(spark.table(qname).localCheckpoint(eager=False))


_CONCURRENCY_ORACLE = """
    WITH iv AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    ),
    per_t AS (
      SELECT t, sum(ds) AS n_start, sum(de) AS n_end FROM (
        SELECT s AS t, 1 AS ds, 0 AS de FROM iv
        UNION ALL
        SELECT e AS t, 0 AS ds, 1 AS de FROM iv
      ) GROUP BY t
    )
    SELECT t,
           CAST(n_start AS BIGINT) AS n_start,
           CAST(n_end AS BIGINT) AS n_end,
           CAST(sum(n_start) OVER w - sum(n_end) OVER w + n_end AS BIGINT)
             AS n_active
    FROM per_t
    WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


@query("q_time_concurrency", oracle=_CONCURRENCY_ORACLE)
def q_time_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency curve: at every interval boundary instant,
    how many users are concurrently active (interval = the user's
    [min ts, max ts] span within each day, endpoints inclusive). The
    load-curve / peak-occupancy primitive: capacity planning, concurrent-
    session licensing, and the training-cluster "how many shards are
    in-flight" monitor are all this one shape.

    Intra-instant ordering is defined AWAY rather than tie-ordered:
    n_active(t) = (#starts <= t) - (#ends < t), computed per distinct
    boundary as cum(starts) - cum(ends) + ends_at_t — no +1-before--1
    sequencing for the engines to disagree on, and a zero-length
    interval (single-event user-day) correctly counts active at its own
    instant.

    Scale shape — the distributed prefix sum: a naive running total is a
    GLOBAL ordered window, i.e. one partition pulling every boundary row
    through a single task (the classic scale trap; fine in DuckDB's
    oracle, wrong on a cluster). Instead: (1) boundaries partition by
    day and each partition computes its LOCAL running sums in parallel;
    (2) per-day delta totals — |days| rows, the only single-partition
    step — turn into per-day OFFSETS via a cumulative window over days;
    (3) offsets broadcast-join back onto the local sums. Identical
    semantics, and the corpus-sized pass is embarrassingly parallel; at
    100 TB the offset frame is still only |days| rows.
    """
    return concurrency_for(table(spark, sf_dir, "events"))


def concurrency_for(e: DataFrame) -> DataFrame:
    """q_time_concurrency's plan over any events frame (ts normalized) —
    shared by the declared query and scripts/scaling_probe.py so the
    probe measures the exact declared plan shape."""
    iv = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    return concurrency_from_intervals(iv)


def concurrency_from_intervals(iv: DataFrame) -> DataFrame:
    """The boundary-curve reduction over any (s, e) interval frame — the
    back half of :func:`concurrency_for`, split out so the live
    streaming monitor (q_stream_concurrency_live, whose interval frame
    is streaming aggregation state) runs the exact same prefix-sum
    plan."""
    from pyspark.sql import Window

    deltas = iv.select(
        F.col("s").alias("t"), F.lit(1).alias("ds"), F.lit(0).alias("de")
    ).unionByName(
        iv.select(F.col("e").alias("t"), F.lit(0).alias("ds"), F.lit(1).alias("de"))
    )
    per_t = deltas.groupBy("t").agg(
        F.sum("ds").alias("n_start"), F.sum("de").alias("n_end")
    )
    wl = (
        Window.partitionBy("bkt")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = (
        per_t.withColumn("bkt", F.date_trunc("day", "t"))
        .withColumn("ls", F.sum("n_start").over(wl))
        .withColumn("le", F.sum("n_end").over(wl))
    )
    tot = local.groupBy("bkt").agg(
        F.sum("n_start").alias("bs"), F.sum("n_end").alias("be")
    )
    # |days|-row frame: the single-partition window is bounded by the
    # calendar, not the corpus.
    wo = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    off = tot.select(
        "bkt",
        F.coalesce(F.sum("bs").over(wo), F.lit(0)).alias("os"),
        F.coalesce(F.sum("be").over(wo), F.lit(0)).alias("oe"),
    )
    return local.join(F.broadcast(off), "bkt").select(
        "t",
        F.col("n_start").cast("long").alias("n_start"),
        F.col("n_end").cast("long").alias("n_end"),
        ((F.col("ls") + F.col("os")) - (F.col("le") + F.col("oe")) + F.col("n_end"))
        .cast("long")
        .alias("n_active"),
    )


@query("q_stream_concurrency_live", oracle=_CONCURRENCY_ORACLE)
def q_stream_concurrency_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live occupancy monitor — the eleventh live-execution contract: a
    REAL Structured Streaming job maintains the per-(user, day) activity
    interval state (min ts / max ts — both are streaming-safe monotone
    aggregates) in complete mode, and the sweep-line boundary curve
    (shared verbatim with q_time_concurrency via
    concurrency_from_intervals) runs over the sink state each trigger.
    The q_stream_psi_live factoring, applied to occupancy: streaming
    forbids the chained aggregation (interval agg -> boundary agg ->
    prefix windows) in one query, so the DATA-SIZED pass — collapsing
    the event stream to one interval per user-day — is the incremental
    streaming state, and the curve reduction reads that state table,
    exactly how a deployed monitor reads its state store. The memory
    sink is the local test vehicle; at scale the interval state lands in
    a real sink keyed by (user, day) and the reduction stays the same
    distributed prefix-sum plan.

    Batch-equivalence: after availableNow drains the backlog the sink
    holds exactly the batch interval frame, so the curve equals
    q_time_concurrency's — one oracle text serves both.
    """
    from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink

    iv = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    qname = f"mem_concurrency_live_{next(_MEM_SINK_SEQ)}"
    run_to_memory_sink(iv, qname, output_mode="complete")
    # lazy localCheckpoint: concurrency_from_intervals references the
    # interval frame twice (start- and end-delta branches of the union),
    # and two references to one MemorySink view trip Spark 4.1's
    # analyzer with conflicting attribute ids; the checkpoint renumbers
    # the leaf (the q_stream_psi_live workaround).
    return concurrency_from_intervals(
        spark.table(qname).localCheckpoint(eager=False)
    )


@query(
    "q_time_gap_stats",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    lat AS (
      SELECT event_type, gap_us, gap_us / 1000000.0 AS gap_sec
      FROM g WHERE gap_us IS NOT NULL
    )
    SELECT event_type,
           count(*) AS n_gaps,
           round(sum(gap_us) / count(*) / 1000000.0, 6) AS avg_gap_sec,
           round(quantile_cont(gap_sec, 0.5), 6) AS p50_gap_sec,
           round(quantile_cont(gap_sec, 0.99), 6) AS p99_gap_sec,
           round(max(gap_sec), 6) AS max_gap_sec
    FROM lat GROUP BY event_type
    """,
)
def q_time_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type: median / p99 /
    max seconds between consecutive events of the same type — the
    arrival-process profile behind every freshness SLO (q_dq_freshness
    checks the LAST gap; this characterizes ALL of them, and p99 is
    what you set the alert threshold from so the pager fires on real
    stalls, not the routine tail).

    One lag window per event_type (keyed shuffle — |types| partitions
    of ordered scans, never keyless), then a per-type aggregate. Gaps
    are integer µs from the lag; the mean divides the exact BIGINT sum
    once (q_funnel_latency's discipline), per-element seconds feed only
    the sort-based percentiles, and (ts, event_id) ordering pins
    equal-timestamp neighbors cross-engine.
    """
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    um = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type", (um - F.lag(um).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    lat = g.select("event_type", "gap_us", (F.col("gap_us") / 1000000.0).alias("gap_sec"))
    pct = F.expr("percentile(gap_sec, array(0.5, 0.99))")
    return lat.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.sum("gap_us") / F.count("*") / 1000000.0, 6).alias("avg_gap_sec"),
        F.round(pct.getItem(0), 6).alias("p50_gap_sec"),
        F.round(pct.getItem(1), 6).alias("p99_gap_sec"),
        F.round(F.max("gap_sec"), 6).alias("max_gap_sec"),
    )


@query(
    "q_events_burst",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             count(*) AS n_days,
             sum(n) AS s1,
             sum(n * n) AS s2
      FROM daily GROUP BY event_type
    ),
    z AS (
      SELECT d.event_type, d.day, d.n,
             s1 / CAST(n_days AS DOUBLE) AS mu,
             sqrt((s2 - s1 * (s1 / CAST(n_days AS DOUBLE))) /
                  CAST(n_days - 1 AS DOUBLE)) AS sd
      FROM daily d JOIN stats s ON d.event_type = s.event_type
      WHERE s.n_days > 1
    )
    SELECT event_type, day, n,
           round(mu, 6) AS mean_n,
           round((n - mu) / sd, 6) AS z
    FROM z
    WHERE sd > 0 AND n > mu + 2 * sd
    """,
)
def q_events_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-burst detector: days where an event type's volume exceeds
    its own mean by more than 2 standard deviations — the rate-anomaly
    twin of q_anomaly_zscore (which screens VALUES; this screens
    FREQUENCY over time, the shape bot storms, retry loops, and
    replayed batches show up as).

    Parity discipline: the per-type moments come from EXACT integer
    sums (counts are BIGINTs, so sum(n) and sum(n·n) are precise on
    both engines — never a float-accumulated stddev whose partition
    order could wobble); mean/variance are then single divisions of
    identical operands, so the 2σ threshold and the 6 dp-rounded z
    branch identically. Shape: one (type, day) aggregate (map-side
    combine), one |types|-row stats aggregate broadcast back — two
    shuffles total, output bounded by flagged days.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mu = F.col("s1") / F.col("n_days").cast("double")
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * mu) / (F.col("n_days") - 1).cast("double")
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .where(F.col("n_days") > 1)
        .select("event_type", "day", "n", mu.alias("mu"), sd.alias("sd"))
        .where((F.col("sd") > 0) & (F.col("n") > F.col("mu") + 2 * F.col("sd")))
        .select(
            "event_type",
            "day",
            "n",
            F.round("mu", 6).alias("mean_n"),
            F.round((F.col("n") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        )
    )


@query(
    "q_time_drawdown",
    oracle="""
    WITH cum AS (
      SELECT user_id, ts, event_id,
             sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_value
      FROM events
    ),
    c AS (
      SELECT user_id, cum_value,
             max(cum_value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM cum
    )
    SELECT user_id,
           count(*) AS n_events,
           round(max(peak), 4) AS peak_value,
           round(max(peak - cum_value), 4) AS max_drawdown
    FROM c GROUP BY user_id
    """,
)
def q_time_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: the largest peak-to-trough fall of the
    running value total over the event stream — the risk statistic
    behind "how far below its best has this account/metric sunk", also
    the canonical composed-window exercise (a running MAX **of** a
    running SUM in one pass).

    Both cumulative frames are ROWS-bounded over the same
    (ts, event_id)-pinned per-user order, so the float sums are
    SEQUENTIAL in a deterministic order on both engines — the one
    situation where an order-dependent double fold is hash-safe (the
    module's parity discipline; a groupBy SUM would not be). The two
    windows and the final per-user aggregate all share the single
    user_id shuffle; nothing here is keyless.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    e = table(spark, sf_dir, "events")
    c = e.select(
        "user_id",
        F.sum("value").over(w).alias("cum_value"),
        F.max(F.sum("value").over(w)).over(w).alias("peak"),
    )
    return c.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.max("peak"), 4).alias("peak_value"),
        F.round(F.max(F.col("peak") - F.col("cum_value")), 4).alias("max_drawdown"),
    )
