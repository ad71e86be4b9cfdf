"""Warehouse-pattern operators: SCD-2 history, SQL CTE entry point,
correlated subqueries — the reference genre's dimension-management and
reporting-SQL surface, Spark-native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_etl_spark.operators.materialized import artifact
from data_pipeline_etl_spark.registry import query
from data_pipeline_etl_spark.sources.tables import table


@query(
    "q_scd2",
    oracle="""
    WITH daily AS (
      SELECT o_custkey, o_orderdate, o_totalprice FROM (
        SELECT o_custkey, o_orderdate, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders
      ) WHERE rn = 1
    )
    SELECT o_custkey,
           o_orderdate AS valid_from,
           coalesce(lead(o_orderdate) OVER w, TIMESTAMP '2099-12-31 00:00:00') AS valid_to,
           o_totalprice AS state_price,
           CAST(lead(o_orderdate) OVER w IS NULL AS BOOLEAN) AS is_current
    FROM daily
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: effective-dated state rows.

    Each customer's *last* order per day is a state change (collapsing
    same-day orders first — otherwise ties produce degenerate
    valid_from == valid_to rows, caught by an interval-invariant probe);
    valid_to is the next change's date, open-ended 2099 sentinel for the
    current row (9999-12-31 overflows pandas datetime64[ns] on collect).
    Two window passes over the same partitioning — one shuffle, no
    self-join: the scalable SCD-2 build.
    """
    o = table(spark, sf_dir, "orders")
    dayw = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.desc("o_orderkey"))
    daily = (
        o.withColumn("rn", F.row_number().over(dayw))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_totalprice")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    nxt = F.lead("o_orderdate").over(w)
    return daily.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(nxt, F.lit("2099-12-31").cast("timestamp_ntz")).alias("valid_to"),
        F.col("o_totalprice").alias("state_price"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q_sql_cte",
    oracle="""
    WITH seg_stats AS (
      SELECT c_mktsegment, round(avg(c_acctbal), 6) AS seg_avg
      FROM customer GROUP BY c_mktsegment
    ),
    flagged AS (
      SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, s.seg_avg
      FROM customer c JOIN seg_stats s ON c.c_mktsegment = s.c_mktsegment
    )
    SELECT c_mktsegment,
           count(CASE WHEN c_acctbal > seg_avg THEN 1 END) AS n_above,
           count(*) AS n_total
    FROM flagged
    GROUP BY c_mktsegment
    """,
)
def q_sql_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point with chained CTEs (identical text on both engines)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_cte_v")
    return spark.sql(
        """
        WITH seg_stats AS (
          SELECT c_mktsegment, round(avg(c_acctbal), 6) AS seg_avg
          FROM customer_cte_v GROUP BY c_mktsegment
        ),
        flagged AS (
          SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, s.seg_avg
          FROM customer_cte_v c JOIN seg_stats s ON c.c_mktsegment = s.c_mktsegment
        )
        SELECT c_mktsegment,
               count(CASE WHEN c_acctbal > seg_avg THEN 1 END) AS n_above,
               count(*) AS n_total
        FROM flagged
        GROUP BY c_mktsegment
        """
    )


@query(
    "q_subquery_scalar",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer i
                       WHERE i.c_nationkey = c.c_nationkey)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates to an agg+join)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sub_v")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer_sub_v c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer_sub_v i
                           WHERE i.c_nationkey = c.c_nationkey)
        """
    )


@query(
    "q_cdc_compact",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_versions
      FROM events
    )
    SELECT user_id, CAST(n_versions AS BIGINT) AS n_versions,
           ts AS last_ts, event_type AS last_type, value AS last_value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (latest-wins merge): collapse the event
    stream to each key's current state, treating 'error' as the
    tombstone op — a key whose newest entry is a tombstone is absent
    from the compacted output. The merge-on-read -> compact step of the
    Delta/Hudi/Iceberg upsert genre, expressed engine-side.

    Plan: ONE aggregate with max(struct(ts, event_id, payload...)) —
    (ts, event_id) leads the struct, and event_id is unique, so the
    lexicographic max IS the deterministic latest row. The aggregate
    combines map-side: every mapper keeps one candidate struct per key,
    so the single shuffle carries ~|keys| rows per mapper, NOT the
    changelog — the window formulation the oracle uses for clarity
    would instead shuffle and sort every version of every key
    (row_number has no partial phase). The tombstone filter runs after
    the aggregate: it must see the final winner, not pre-filter the
    stream (an 'error'-last key would wrongly resurrect its previous
    version). At warehouse scale this is the plan a nightly table
    compaction wants: linear scan, one exchange keyed on the merge key,
    output bounded by live keys.
    """
    e = table(spark, sf_dir, "events")
    last = e.groupBy("user_id").agg(
        F.count("*").alias("n_versions"),
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("last"),
    )
    return last.where(F.col("last.event_type") != "error").select(
        "user_id",
        "n_versions",
        F.col("last.ts").alias("last_ts"),
        F.col("last.event_type").alias("last_type"),
        F.col("last.value").alias("last_value"),
    )


@query(
    "q_rollup_incremental",
    oracle="""
    WITH state AS (
      SELECT o_orderpriority, round(sum(o_totalprice), 4) AS s,
             CAST(count(*) AS BIGINT) AS n, max(o_orderdate) AS hi
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY o_orderpriority
    ),
    delta AS (
      SELECT o_orderpriority, round(sum(o_totalprice), 4) AS s,
             CAST(count(*) AS BIGINT) AS n, max(o_orderdate) AS hi
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      GROUP BY o_orderpriority
    ),
    both_halves AS (
      SELECT * FROM state UNION ALL SELECT * FROM delta
    )
    SELECT o_orderpriority,
           round(sum(s), 4) AS total_price,
           CAST(sum(n) AS BIGINT) AS n_orders,
           round(sum(s) / sum(n), 6) AS avg_price,
           max(hi) AS last_orderdate
    FROM both_halves GROUP BY o_orderpriority
    """,
)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: merge an incumbent aggregate
    STATE table with a new partition's delta aggregate — without
    re-aggregating the incumbent's raw rows. The nightly-load pattern
    for any additive rollup: keep (sum, count, max) per key, aggregate
    only the arriving partition, merge by summing sums / summing
    counts / maxing maxes; non-mergeable reports (avg here) are derived
    from the merged state at read time, never stored.

    Both halves come from the fixture in this declared form (there is
    no persisted state table to read), but the plan IS the incremental
    shape: two partition-pruned scans (the date predicates push to the
    parquet scan), each collapsed to a |keys|-row state frame map-side,
    then a |keys|-sized union + re-aggregate — the merge step a real
    deployment runs against a stored state table costs exactly the
    second stage, which is corpus-size-independent. The same
    decomposition is why sum/count/min/max/approx-sketches stream and
    avg/stddev must be derived: only mergeable state survives
    incremental maintenance. Sums are rounded at 4 dp pre-merge on
    both engines (the state table stores rounded doubles; merging
    rounded state is deterministic), the derived avg at 6 dp.
    """
    o = table(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("timestamp")

    def half(pred):
        return (
            o.where(pred)
            .groupBy("o_orderpriority")
            .agg(
                F.round(F.sum("o_totalprice"), 4).alias("s"),
                F.count("*").alias("n"),
                F.max("o_orderdate").alias("hi"),
            )
        )

    merged = half(F.col("o_orderdate") < split).unionByName(
        half(F.col("o_orderdate") >= split)
    )
    return merged.groupBy("o_orderpriority").agg(
        F.round(F.sum("s"), 4).alias("total_price"),
        F.sum("n").alias("n_orders"),
        F.round(F.sum("s") / F.sum("n"), 6).alias("avg_price"),
        F.max("hi").alias("last_orderdate"),
    )


@query(
    "q_basket_affinity",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    freq AS (SELECT l_partkey, count(*) AS c FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS c_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, c_ab,
           CAST(c_ab AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
           CAST(c_ab AS DOUBLE) / CAST(fa.c AS DOUBLE) AS confidence,
           (CAST(c_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
             / (CAST(fa.c AS DOUBLE) * CAST(fb.c AS DOUBLE)) AS lift
    FROM pairs
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b
    CROSS JOIN n
    WHERE c_ab >= 2
    """,
)
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: support / confidence / lift for part
    pairs co-ordered at least twice — the association-rules staple over
    the order-item fact.

    Scale shape: the pair frame is a SELF-JOIN WITHIN the order key
    (one shuffle on l_orderkey; fan-out bounded by basket size, ≤C(7,2)
    pairs per order — never an all-parts cross join), then one
    pair-keyed count. Part frequencies are a dimension-sized frame
    joined back broadcast; the order total is a one-row broadcast. All
    three metrics are ratios of BIGINT counts cast to double with a
    mirrored expression tree — no float summation anywhere, so parity
    is exact by construction.

    The pair frame comes from the shared :func:`co_order_pairs_table`
    artifact, paid once per session instead of once per call; the
    freq/n aggregates still scan the cached lineitem, one pass.
    """
    return _basket_scores(
        co_order_pairs_table(spark, sf_dir), _order_items(spark, sf_dir)
    )


def _order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (l_orderkey, l_partkey) item frame every co-order
    query and graph starts from."""
    l = table(spark, sf_dir, "lineitem")
    return l.select("l_orderkey", "l_partkey").distinct()


def basket_affinity_for(items: DataFrame) -> DataFrame:
    """q_basket_affinity's plan over any (l_orderkey, l_partkey) item
    frame — shared by scripts/scaling_probe.py so the probe measures
    the exact declared plan shape INCLUDING a fresh pair build (the
    declared query reads the session-materialized
    co_order_pairs_table)."""
    return _basket_scores(_co_order_pairs(items), items)


def _co_order_pairs(items: DataFrame) -> DataFrame:
    """Within-order part-pair co-occurrence counts
    (part_a < part_b, c_ab) over a (l_orderkey, l_partkey) item frame —
    the ONE self-join q_basket_affinity, the top-k affinity graph
    (:func:`_topk_affinity_edges`), pagerank and BFS all start from.
    Fan-out is bounded by basket size (≤ C(7,2) pairs per order), never
    an all-parts cross join."""
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("c_ab"))
    )


@artifact("co_order_pairs")
def co_order_pairs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-order pair-count frame (part_a, part_b, c_ab) over lineitem —
    the shared artifact under q_basket_affinity and the topk_edges,
    pagerank_graph and bfs_graph builds: five declared queries read one
    within-order self-join. ~1.2 M rows of three longs at sf0.1; at
    100 TB this is the materialized co-occurrence table every affinity
    consumer reads. Probe bodies (basket_affinity_for / triangles_for /
    neighbor_jaccard_for / pagerank_for / bfs_hops_for) still build
    fresh pairs."""
    return _co_order_pairs(_order_items(spark, sf_dir)).localCheckpoint()


def _basket_scores(pairs: DataFrame, items: DataFrame) -> DataFrame:
    """Support/confidence/lift over a prebuilt (part_a, part_b, c_ab)
    pair frame plus the item frame the frequencies come from — the
    shared tail of q_basket_affinity and basket_affinity_for."""
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = items.groupBy("l_partkey").agg(F.count("*").alias("c"))
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pairs.where(F.col("c_ab") >= 2)
        .join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            (d("c_ab") / d("n_orders")).alias("support"),
            (d("c_ab") / d("ca")).alias("confidence"),
            ((d("c_ab") * d("n_orders")) / (d("ca") * d("cb"))).alias("lift"),
        )
    )


@query(
    "q_rfm_segment",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    cust AS (
      SELECT o_custkey,
             date_diff('day', max(CAST(o_orderdate AS DATE)),
                       (SELECT maxd FROM mx)) AS r_days,
             count(*) AS freq,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    th AS (
      SELECT quantile_cont(r_days, 0.2) AS r1, quantile_cont(r_days, 0.4) AS r2,
             quantile_cont(r_days, 0.6) AS r3, quantile_cont(r_days, 0.8) AS r4,
             quantile_cont(freq, 0.2) AS f1, quantile_cont(freq, 0.4) AS f2,
             quantile_cont(freq, 0.6) AS f3, quantile_cont(freq, 0.8) AS f4,
             quantile_cont(monetary_cents, 0.2) AS m1,
             quantile_cont(monetary_cents, 0.4) AS m2,
             quantile_cont(monetary_cents, 0.6) AS m3,
             quantile_cont(monetary_cents, 0.8) AS m4
      FROM cust
    )
    SELECT o_custkey, r_days, freq, monetary_cents,
           r_score, f_score, m_score,
           concat(CAST(r_score AS VARCHAR), '-', CAST(f_score AS VARCHAR),
                  '-', CAST(m_score AS VARCHAR)) AS segment
    FROM (
      SELECT o_custkey, r_days, freq, monetary_cents,
             1 + CAST(r_days > r1 AS INT) + CAST(r_days > r2 AS INT)
               + CAST(r_days > r3 AS INT) + CAST(r_days > r4 AS INT) AS r_score,
             1 + CAST(freq > f1 AS INT) + CAST(freq > f2 AS INT)
               + CAST(freq > f3 AS INT) + CAST(freq > f4 AS INT) AS f_score,
             1 + CAST(monetary_cents > m1 AS INT) + CAST(monetary_cents > m2 AS INT)
               + CAST(monetary_cents > m3 AS INT) + CAST(monetary_cents > m4 AS INT)
               AS m_score
      FROM cust CROSS JOIN th
    )
    """,
)
def q_rfm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    quintile scores — the classic CRM rollup.

    Quintiles are THRESHOLD-BASED, not ntile: a keyless global ntile
    would funnel every customer through one sorting task at scale, so
    instead four interpolated percentile cuts per metric come from one
    aggregate over the customer frame (a 1-row, 12-value result,
    broadcast back) and each score is 1 + count of thresholds passed.
    Monetary totals are summed as exact integer cents (no float
    summation order anywhere); recency is whole days against the
    corpus max date; thresholds interpolate exact integers so both
    engines cut at bitwise-identical values.
    """
    o = table(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    maxd = o.agg(F.max(od).alias("maxd"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(od).alias("lastd"),
            F.count("*").alias("freq"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("maxd", "lastd").cast("long").alias("r_days"),
            "freq",
            "monetary_cents",
        )
    )
    th = cust.agg(
        *[
            F.percentile(m, p).alias(f"{m[0]}{i}")
            for m in ("r_days", "freq", "monetary_cents")
            for i, p in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
        ]
    )

    def score(metric: str, pfx: str):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (F.col(metric) > F.col(f"{pfx}{i}")).cast("int")
        return s

    scored = cust.crossJoin(F.broadcast(th)).select(
        "o_custkey",
        "r_days",
        "freq",
        "monetary_cents",
        score("r_days", "r").alias("r_score"),
        score("freq", "f").alias("f_score"),
        score("monetary_cents", "m").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "-",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


@query(
    "q_graph_pagerank",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst FROM pairs
      UNION ALL
      SELECT dst AS src, src AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT l_partkey AS node FROM items),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS d
            FROM edges GROUP BY src),
    pr0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
    it1 AS (
      SELECT nodes.node,
             0.15 / n + 0.85 * coalesce(s.c, 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.pr / deg.d) AS c
        FROM edges e JOIN pr0 p ON p.node = e.src
        JOIN deg ON deg.node = e.src
        GROUP BY e.dst
      ) s ON s.node = nodes.node
    ),
    it2 AS (
      SELECT nodes.node,
             0.15 / n + 0.85 * coalesce(s.c, 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.pr / deg.d) AS c
        FROM edges e JOIN it1 p ON p.node = e.src
        JOIN deg ON deg.node = e.src
        GROUP BY e.dst
      ) s ON s.node = nodes.node
    ),
    it3 AS (
      SELECT nodes.node,
             0.15 / n + 0.85 * coalesce(s.c, 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.pr / deg.d) AS c
        FROM edges e JOIN it2 p ON p.node = e.src
        JOIN deg ON deg.node = e.src
        GROUP BY e.dst
      ) s ON s.node = nodes.node
    )
    SELECT node AS l_partkey, round(pr * n, 6) AS pr_rel
    FROM it3 CROSS JOIN nn
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 damped iterations, d=0.85) over the part co-order
    graph — graph centrality on the same bounded-fan-out pair frame as
    q_basket_affinity, the representative of unrolled iterative
    algorithms expressed as pure joins + aggregates.

    Per iteration: edges join ranks on src (shuffle on node key), one
    groupBy dst for the contribution sum, left join back onto the node
    frame so isolated nodes keep teleport mass. Edge and degree frames
    build once and are reused across iterations (at cluster scale they
    would be cached/bucketed on node so every iteration reuses the
    partitioning; lineage stays flat because the loop is unrolled, not
    driver-iterated — cf. q_dedup_cluster's checkpointed variant for
    convergence-driven loops). Output is rank relative to uniform
    (pr * |nodes|, O(1) values) rounded at 6 — the repo's float-fold
    parity convention for order-insensitive double sums.
    """
    return _pagerank_from(*pagerank_graph_table(spark, sf_dir))


@artifact("pagerank_graph")
def pagerank_graph_table(spark: SparkSession, sf_dir: str):
    """Pagerank graph pair (dst-clustered edge+degree frame, node×n base
    frame) over the shared :func:`co_order_pairs_table`. Both frames are
    iteration-invariant: the per-call work is exactly the three damped
    rounds. The probe body (:func:`pagerank_for`) keeps building fresh
    so scaling_probe still measures the full declared plan."""
    return _pagerank_build(
        co_order_pairs_table(spark, sf_dir), _order_items(spark, sf_dir)
    )


def pagerank_for(items: DataFrame) -> DataFrame:
    """q_graph_pagerank's plan over any (l_orderkey, l_partkey) item
    frame — shared by scripts/scaling_probe.py so the probe measures
    the exact declared plan shape INCLUDING a fresh graph build (the
    declared query reads the session-materialized
    pagerank_graph_table)."""
    return _pagerank_from(*_pagerank_build(_co_order_pairs(items), items))


def _undirected_edges(pairs: DataFrame) -> DataFrame:
    """Both directions (src, dst) of each co-order pair: the edge set
    pagerank and BFS walk."""
    fwd = pairs.select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _pagerank_build(pairs: DataFrame, items: DataFrame):
    """The iteration-invariant half of the pagerank plan over a
    (part_a, part_b, c_ab) pair frame and its item frame: the
    dst-clustered edge+degree checkpoint and the node×n base
    checkpoint (one build, reused by all three unrolled rounds —
    and, via pagerank_graph_table, by every call in a session)."""
    # The edge and node frames feed every iteration: checkpoint them once
    # (same barrier q_dedup_cluster uses) so the order-key self-join
    # doesn't re-execute per unrolled round. The source degree is
    # ITERATION-INVARIANT, so it is joined onto the edge frame once,
    # before the loop, instead of re-broadcast every round (controlled
    # 5-rep compare at sf0.1: wall UNCHANGED vs the per-round broadcast
    # — tiny-frame broadcasts are nearly free locally; the hoist is
    # kept because it removes one broadcast round-trip per iteration,
    # the term that grows with node count); ranks are node-dimension-sized
    # and broadcast per round, so each iteration costs exactly one
    # broadcast join + the contribution groupBy shuffle (at cluster
    # scale edges would be bucketed on src to make that shuffle-free
    # too). The fold stays sum(pr / d) — NOT a precomputed reciprocal —
    # so the oracle's expression tree is reproduced bit-for-bit.
    edges = _undirected_edges(pairs)
    deg = edges.groupBy("src").agg(F.count("*").cast("double").alias("d"))
    # The edge frame is CLUSTERED ON dst before the checkpoint (r16,
    # measured): localCheckpoint does NOT preserve partitioning metadata
    # (the per-iteration groupBy(dst) exchange stays in the plan either
    # way), but the LAYOUT decides what that exchange carries. With dst
    # values scattered, every partition holds rows for ~every dst, so
    # the partial aggregate emits ~|nodes| rows PER PARTITION into the
    # shuffle — O(|nodes| x P) per iteration, which is exactly the term
    # that explodes on a 1000-executor cluster. With dst co-located the
    # partial aggregate collapses each partition to its own dsts and the
    # exchange carries ~|nodes| rows TOTAL. One extra build-time shuffle
    # (measured free: build 3.2-3.9 s both ways at sf0.1 — it overlaps
    # the checkpoint write), iterations 4.0-5.0 s -> 2.0-2.2 s warm x5,
    # values bit-identical (the within-group fold is unchanged).
    edges_d = (
        edges.join(F.broadcast(deg), "src")
        .repartition("dst")
        .localCheckpoint(eager=True)
    )
    nodes = items.select(F.col("l_partkey").alias("node")).distinct()
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    base = nodes.crossJoin(F.broadcast(nn)).localCheckpoint(eager=True)
    return edges_d, base


def _pagerank_from(edges_d: DataFrame, base: DataFrame) -> DataFrame:
    """The per-call half: three damped rounds over the prebuilt graph."""
    pr = base.select("node", "n", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(3):
        contrib = (
            edges_d.join(
                F.broadcast(pr.select(F.col("node").alias("src"), "pr")), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("d")).alias("c"))
        )
        pr = base.join(F.broadcast(contrib), "node", "left").select(
            "node",
            "n",
            (
                F.lit(0.15) / F.col("n") + 0.85 * F.coalesce("c", F.lit(0.0))
            ).alias("pr"),
        )
    return pr.select(
        F.col("node").alias("l_partkey"),
        F.round(F.col("pr") * F.col("n"), 6).alias("pr_rel"),
    )


@query(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 <> 4
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 6
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.o_totalprice AS old_price,
           n.o_totalprice AS new_price
    FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot table diff: given two point-in-time copies of a keyed
    table, emit the change set (insert / delete / update with old+new
    values) — the reconciliation operator behind audit reports, backfill
    validation, and deriving a changelog when no CDC feed exists (the
    inverse of q_cdc_compact, which goes changelog -> state).

    The two "snapshots" here are deterministic modulo-filtered views of
    ``orders`` (with a +100.0 price drift on every 11th key) standing in
    for two physical table versions — the operator itself never assumes
    how the snapshots were made. Plan: one FULL OUTER shuffle join on
    the key, NULL-side classification, engine-side value compare; output
    is bounded by churn, not table size. At warehouse scale both
    snapshots are bucketed/sorted by the key (storage-partitioned join),
    making the diff entirely shuffle-free; the value compare extends to
    N columns as a struct inequality without changing the plan shape.
    The +100.0 drift is an exact double add (no rounding), so old/new
    prices hash bit-for-bit on both engines.
    """
    o = table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 5 != 4).select(
        F.col("o_orderkey").alias("k_old"),
        F.col("o_totalprice").alias("old_price"),
    )
    new = o.where(F.col("o_orderkey") % 7 != 6).select(
        F.col("o_orderkey").alias("k_new"),
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 100.0)
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    joined = old.join(new, old.k_old == new.k_new, "full_outer")
    return joined.where(
        F.col("k_old").isNull()
        | F.col("k_new").isNull()
        | (F.col("old_price") != F.col("new_price"))
    ).select(
        F.coalesce("k_old", "k_new").alias("o_orderkey"),
        F.when(F.col("k_old").isNull(), "insert")
        .when(F.col("k_new").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        "old_price",
        "new_price",
    )


@query(
    "q_graph_triangles",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS s, b.l_partkey AS d, count(*) AS c
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    und AS (
      SELECT s, d, c FROM pairs
      UNION ALL
      SELECT d AS s, s AS d, c FROM pairs
    ),
    topk AS (
      SELECT s, d FROM (
        SELECT s, d,
               row_number() OVER (PARTITION BY s ORDER BY c DESC, d) AS rn
        FROM und
      ) WHERE rn <= 2
    ),
    edges AS (
      SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM topk
    )
    SELECT e1.a AS part_a, e1.b AS part_b, e2.b AS part_c
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the top-2 co-order affinity graph —
    cohesive part triples, the clustering primitive sitting between
    pairwise affinity (q_basket_affinity) and global structure
    (q_graph_pagerank / q_dedup_cluster).

    Scale design in two deliberate steps. (1) SPARSIFY: the raw
    co-order graph is dense (83 M wedges at sf0.1 — measured, not
    guessed), so triangles are counted on the top-k=2 neighbor graph
    (strongest partner per node by co-count, tiebreak partkey): one
    window pass bounds out-degree by construction, the same move a
    production recommender makes before any graph algorithm. (2) ORIENT:
    edges are canonicalized a<b, and the triangle a<b<c is found by ONE
    2-path join (b matches) closed by ONE edge join (a,c) — each
    triangle found exactly once, never 6 times, and the join fan-out is
    bounded by the sparsified degree. The pair frame is the same
    bounded within-order self-join as q_basket_affinity (fan-out ≤
    C(basket,2), never all-parts); the edge frame is checkpointed once
    and reused across its three join roles.
    """
    return _triangles_from_edges(topk_edges_table(spark, sf_dir))


@artifact("topk_edges")
def topk_edges_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparsified top-2 co-order edge frame (a, b) over the shared
    :func:`co_order_pairs_table` — the ONE graph q_graph_triangles
    closes wedges on and q_graph_neighbor_jaccard scores them on. The
    probe bodies (triangles_for / neighbor_jaccard_for) keep building
    fresh edges so scaling_probe still measures the full declared
    plan."""
    return _topk_edges_from_pairs(co_order_pairs_table(spark, sf_dir))


def _topk_affinity_edges(items: DataFrame) -> DataFrame:
    """Sparsified top-k=2 co-order affinity edges over a
    (l_orderkey, l_partkey) item frame, canonicalized a<b and
    checkpointed eagerly — the shared graph-construction step of
    :func:`triangles_for` and :func:`neighbor_jaccard_for` (one build,
    two algorithms: the _bpe_rounds single-source discipline). The pair
    frame is the bounded within-order self-join of q_basket_affinity
    (:func:`_co_order_pairs` — fan-out <= C(basket, 2), never
    all-parts); the top-k window bounds out-degree by construction
    before any graph algorithm runs."""
    return _topk_edges_from_pairs(_co_order_pairs(items))


def _topk_edges_from_pairs(pairs: DataFrame) -> DataFrame:
    """Top-k=2 sparsification + a<b canonicalization over a prebuilt
    (part_a, part_b, c_ab) co-order pair frame — the shared tail of
    :func:`_topk_affinity_edges` and the topk_edges_table build."""
    pairs = pairs.select(
        F.col("part_a").alias("s"), F.col("part_b").alias("d"), F.col("c_ab").alias("c")
    )
    und = pairs.unionByName(
        pairs.select(F.col("d").alias("s"), F.col("s").alias("d"), "c")
    )
    wtop = Window.partitionBy("s").orderBy(F.desc("c"), "d")
    topk = (
        und.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 2)
        .select("s", "d")
    )
    return (
        topk.select(
            F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def triangles_for(items: DataFrame) -> DataFrame:
    """q_graph_triangles' plan over any (l_orderkey, l_partkey) item
    frame — shared by scripts/scaling_probe.py so the probe measures
    the exact declared plan shape INCLUDING a fresh edge build (the
    declared query reads the session-materialized topk_edges_table)."""
    return _triangles_from_edges(_topk_affinity_edges(items))


def _triangles_from_edges(edges: DataFrame) -> DataFrame:
    e1 = edges.select(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
    e2 = edges.select(F.col("a").alias("part_b"), F.col("b").alias("part_c"))
    e3 = edges.select(F.col("a").alias("part_a"), F.col("b").alias("part_c"))
    # The sparsified edge frame is ~2N rows of two longs — broadcast for
    # the wedge extension and the closing-edge probe (no shuffle after
    # the pair build). Past the broadcast threshold (billions of nodes)
    # drop the hints: both joins key on a single column, so bucketing
    # edges by each endpoint gives the shuffle-free SMJ layout instead.
    return (
        e1.join(F.broadcast(e2), "part_b")
        .join(F.broadcast(e3), ["part_a", "part_c"])
        .select("part_a", "part_b", "part_c")
    )


@query(
    "q_graph_neighbor_jaccard",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS s, b.l_partkey AS d, count(*) AS c
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    und AS (
      SELECT s, d, c FROM pairs
      UNION ALL
      SELECT d AS s, s AS d, c FROM pairs
    ),
    topk AS (
      SELECT s, d FROM (
        SELECT s, d,
               row_number() OVER (PARTITION BY s ORDER BY c DESC, d) AS rn
        FROM und
      ) WHERE rn <= 2
    ),
    edges AS (
      SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM topk
    ),
    bidir AS (
      SELECT a AS s, b AS d FROM edges
      UNION ALL
      SELECT b AS s, a AS d FROM edges
    ),
    deg AS (
      SELECT s AS node, count(*) AS deg FROM bidir GROUP BY s
    ),
    wedge AS (
      SELECT w1.d AS part_x, w2.d AS part_y, count(*) AS n_common
      FROM bidir w1 JOIN bidir w2
        ON w1.s = w2.s AND w1.d < w2.d
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT w.part_x, w.part_y, w.n_common,
             round(CAST(w.n_common AS DOUBLE)
                   / (dx.deg + dy.deg - w.n_common), 6) AS jac,
             e.a IS NOT NULL AS is_edge
      FROM wedge w
      JOIN deg dx ON dx.node = w.part_x
      JOIN deg dy ON dy.node = w.part_y
      LEFT JOIN edges e ON e.a = w.part_x AND e.b = w.part_y
    )
    SELECT part_x, part_y, n_common, jac, is_edge, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT part_x, part_y, n_common, jac, is_edge,
             row_number() OVER (ORDER BY jac DESC, part_x, part_y) AS rn
      FROM scored
    ) WHERE rn <= 20
    """,
)
def q_graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard over the top-2 co-order
    affinity graph: the top-20 node pairs ranked by
    |N(x) ∩ N(y)| / |N(x) ∪ N(y)|, with an `is_edge` flag separating
    "already connected" from genuine link candidates — the classic
    structural-similarity recommender primitive sitting next to
    q_graph_triangles (which closes wedges; this one scores them).

    Scale design: runs entirely on the SPARSIFIED graph
    (:func:`_topk_affinity_edges` — out-degree bounded by construction,
    same build as triangles, checkpointed once and read in three
    roles). Common-neighbor counts come from ONE wedge self-join on the
    shared endpoint (fan-out <= deg^2 with deg <= 2k by construction,
    never corpus-scale); degrees and the edge-membership probe are
    |edges|-sized broadcasts. Jaccard is a single integer-ratio
    division rounded at 6 dp (one IEEE op — deterministic across
    engines); the top-20 cut is a total order on (jac, part_x, part_y)
    so the limit is reproducible, executed as TakeOrderedAndProject
    (distributed partial top-k, no global sort). The final row_number
    runs on the 20-row result — the documented metadata-size
    single-partition exception."""
    return _neighbor_jaccard_from_edges(topk_edges_table(spark, sf_dir))


def neighbor_jaccard_for(items: DataFrame) -> DataFrame:
    """q_graph_neighbor_jaccard's plan over any (l_orderkey, l_partkey)
    item frame — shared by scripts/scaling_probe.py so the probe
    measures the declared shape INCLUDING a fresh edge build (the
    declared query reads the session-materialized topk_edges_table)."""
    return _neighbor_jaccard_from_edges(_topk_affinity_edges(items))


def _neighbor_jaccard_from_edges(edges: DataFrame) -> DataFrame:
    bidir = edges.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    deg = bidir.groupBy(F.col("s").alias("node")).agg(F.count("*").alias("deg"))
    w1 = bidir.select(F.col("s").alias("n"), F.col("d").alias("x"))
    w2 = bidir.select(F.col("s").alias("n"), F.col("d").alias("y"))
    wedge = (
        w1.join(w2, "n")
        .where(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("part_x"), F.col("y").alias("part_y"))
        .agg(F.count("*").alias("n_common"))
    )
    dx = deg.select(F.col("node").alias("part_x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("node").alias("part_y"), F.col("deg").alias("deg_y"))
    ed = edges.select(
        F.col("a").alias("part_x"), F.col("b").alias("part_y"), F.lit(1).alias("e")
    )
    scored = (
        wedge.join(F.broadcast(dx), "part_x")
        .join(F.broadcast(dy), "part_y")
        .join(F.broadcast(ed), ["part_x", "part_y"], "left")
        .select(
            "part_x",
            "part_y",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("deg_x") + F.col("deg_y") - F.col("n_common")),
                6,
            ).alias("jac"),
            F.col("e").isNotNull().alias("is_edge"),
        )
    )
    top = scored.orderBy(F.desc("jac"), "part_x", "part_y").limit(20)
    w = Window.orderBy(F.desc("jac"), "part_x", "part_y")
    return top.withColumn("rn", F.row_number().over(w).cast("long")).select(
        "part_x", "part_y", "n_common", "jac", "is_edge", "rn"
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT user_id,
             max(struct_pack(ts := ts, event_id := event_id,
                             event_type := event_type, value := value)) AS st
      FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00'
      GROUP BY user_id
    ),
    batch AS (
      SELECT user_id,
             max(struct_pack(ts := ts, event_id := event_id,
                             event_type := event_type, value := value)) AS st
      FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
      GROUP BY user_id
    )
    SELECT coalesce(b.user_id, u.user_id) AS user_id,
           CASE WHEN u.user_id IS NULL THEN 'keep'
                WHEN b.user_id IS NULL THEN 'insert'
                ELSE 'update' END AS op,
           CASE WHEN u.user_id IS NULL THEN (b.st).ts ELSE (u.st).ts END AS ts,
           CASE WHEN u.user_id IS NULL THEN (b.st).event_type
                ELSE (u.st).event_type END AS event_type,
           CASE WHEN u.user_id IS NULL THEN (b.st).value
                ELSE (u.st).value END AS value
    FROM base b FULL JOIN batch u ON b.user_id = u.user_id
    WHERE u.user_id IS NULL OR (u.st).event_type <> 'error'
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a table format: apply a compacted
    change batch to a base state table in one pass — WHEN MATCHED THEN
    UPDATE, WHEN NOT MATCHED THEN INSERT, WHEN MATCHED AND tombstone
    THEN DELETE — the nightly upsert a Delta/Hudi/Iceberg MERGE runs,
    expressed engine-side so it works on plain parquet (q_snapshot_diff
    derives a changelog FROM two states; this applies one TO a state;
    q_cdc_compact collapses the raw log the batch comes from).

    Base = latest state per user before the 2024-01-24 cutoff; batch =
    latest event per user after it, with 'error'-latest acting as the
    tombstone (dropping the user even if the base had state — the
    resurrect-after-delete hazard q_cdc_compact documents). Both sides
    compact via the map-side-combining max(struct) aggregate, so the
    single full-outer shuffle join carries one row per live key per
    side, not the event log; at table scale base and batch are bucketed
    on the merge key and the join is shuffle-free (the same
    storage-partitioned layout q_snapshot_diff relies on). The output
    op column ('keep'/'insert'/'update') is the MERGE audit trail.
    """
    e = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24 00:00:00").cast("timestamp_ntz")
    st = F.max(F.struct("ts", "event_id", "event_type", "value")).alias("st")
    base = e.where(F.col("ts") < cutoff).groupBy("user_id").agg(st)
    batch = e.where(F.col("ts") >= cutoff).groupBy("user_id").agg(st)
    b = base.select(F.col("user_id").alias("bk"), F.col("st").alias("bst"))
    u = batch.select(F.col("user_id").alias("uk"), F.col("st").alias("ust"))
    merged = b.join(u, b.bk == u.uk, "full_outer")
    upd = F.col("uk").isNotNull()
    return merged.where(
        F.col("uk").isNull() | (F.col("ust.event_type") != "error")
    ).select(
        F.coalesce("uk", "bk").alias("user_id"),
        F.when(F.col("uk").isNull(), "keep")
        .when(F.col("bk").isNull(), "insert")
        .otherwise("update")
        .alias("op"),
        F.when(upd, F.col("ust.ts")).otherwise(F.col("bst.ts")).alias("ts"),
        F.when(upd, F.col("ust.event_type"))
        .otherwise(F.col("bst.event_type"))
        .alias("event_type"),
        F.when(upd, F.col("ust.value")).otherwise(F.col("bst.value")).alias("value"),
    )


@query(
    "q_graph_bfs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT src, dst FROM pairs UNION ALL SELECT dst AS src, src AS dst FROM pairs
    ),
    seed AS (SELECT min(l_partkey) AS s FROM items),
    h1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN seed ON e.src = seed.s),
    h2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN h1 ON e.src = h1.node),
    h3 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN h2 ON e.src = h2.node)
    SELECT node AS l_partkey, CAST(min(hops) AS BIGINT) AS hops FROM (
      SELECT s AS node, 0 AS hops FROM seed
      UNION ALL SELECT node, 1 AS hops FROM h1
      UNION ALL SELECT node, 2 AS hops FROM h2
      UNION ALL SELECT node, 3 AS hops FROM h3
    ) GROUP BY node
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance (<= 3 hops) from the minimum part key
    over the part co-order graph — the reachability member of the graph
    family (pagerank = centrality, triangles = cohesion, dedup_cluster =
    components): "everything within N recommendation hops of this
    product" / blast-radius queries are this shape.

    BFS-as-joins, unrolled: each hop is one join of the edge frame
    against the current frontier plus a distinct; min(hops) over the
    unioned hop frames resolves multi-path visits (a node reached at
    hop 1 AND hop 3 reports 1) without any visited-set state, which is
    what keeps the unrolled form expressible as pure SQL on both
    engines. Frontiers are node-dimension-bounded, so they broadcast
    (the q_graph_pagerank rank-frame argument); the edge frame is
    checkpointed once and reused across all three hop joins; each
    frontier is checkpointed because it feeds BOTH the next hop join
    and the final union (two consumers, one compute). Driver-iterated
    convergence variants (unknown diameter) belong to q_dedup_cluster's
    pointer-doubling pattern; fixed-depth unrolling is the right shape
    when the hop budget is part of the question.
    """
    return _bfs_from(*bfs_graph_table(spark, sf_dir))


@artifact("bfs_graph")
def bfs_graph_table(spark: SparkSession, sf_dir: str):
    """BFS graph pair (undirected edge checkpoint, seed checkpoint) over
    the shared :func:`co_order_pairs_table`. Both frames are
    hop-invariant; the per-call work is the frontier expansion. The
    probe body (:func:`bfs_hops_for`) keeps building fresh so
    scaling_probe still measures the full declared plan — including the
    100× memory envelope the dst-clustering rejection was probed
    against."""
    return _bfs_build(
        co_order_pairs_table(spark, sf_dir), _order_items(spark, sf_dir)
    )


def bfs_hops_for(items: DataFrame) -> DataFrame:
    """q_graph_bfs's plan over any (l_orderkey, l_partkey) item frame —
    shared by scripts/scaling_probe.py so the probe measures the exact
    declared plan shape INCLUDING a fresh graph build (the declared
    query reads the session-materialized bfs_graph_table)."""
    return _bfs_from(*_bfs_build(_co_order_pairs(items), items))


def _bfs_build(pairs: DataFrame, items: DataFrame):
    """The hop-invariant half of the BFS plan over a (part_a, part_b,
    c_ab) pair frame and its item frame: the undirected edge checkpoint
    and the min-part seed checkpoint (one build, reused by all three hop
    joins — and, via bfs_graph_table, by every call in a session)."""
    # NOT dst-clustered, deliberately (r16, measured): pagerank_for's
    # repartition("dst") rule was tried here too — the per-hop
    # distinct() has the same partial-state fan-in term and the A/B won
    # 10-15% locally — but the extra edge shuffle's peak memory broke
    # the 100x single-JVM probe envelope (heap OOM at 64g where the
    # plain plan holds 25.7x wall; SCALE.md r16 rejection paragraph).
    # On a real cluster the clustering write spreads across executors
    # and the trade likely flips back, but the claim is probed here, so
    # the plan stays the one whose 100x cell is green.
    edges = _undirected_edges(pairs).localCheckpoint(eager=True)
    seed = items.agg(F.min("l_partkey").alias("node")).localCheckpoint(eager=True)
    return edges, seed


def _bfs_from(edges: DataFrame, seed: DataFrame) -> DataFrame:
    """The per-call half: three frontier hops over the prebuilt graph."""
    frames = [seed.select("node", F.lit(0).alias("hops"))]
    frontier = seed
    for hop in (1, 2, 3):
        frontier = (
            edges.join(
                F.broadcast(frontier.select(F.col("node").alias("src"))), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        frames.append(frontier.select("node", F.lit(hop).alias("hops")))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return (
        out.groupBy(F.col("node").alias("l_partkey"))
        .agg(F.min("hops").cast("long").alias("hops"))
    )


@query(
    "q_skyline",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents,
             count(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    grp AS (
      SELECT spend_cents, max(n_orders) AS gmax FROM cust GROUP BY spend_cents
    ),
    pg AS (
      SELECT spend_cents, gmax,
             coalesce(max(gmax) OVER (ORDER BY spend_cents DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               AS pmax
      FROM grp
    )
    SELECT c.o_custkey, c.spend_cents, c.n_orders
    FROM cust c JOIN pg USING (spend_cents)
    WHERE c.n_orders = pg.gmax AND c.n_orders > pg.pmax
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of customers over (total spend, order
    count), both maximized: keep exactly the customers no other customer
    dominates (>= on both dimensions, > on at least one) — the classic
    multi-criteria OLAP operator (Börzsönyi et al.'s SKYLINE OF): "best
    customers" when no single score combines the axes.

    2D skyline reduces to a sort-and-sweep, NOT a pairwise dominance
    join: a customer survives iff its order count (a) equals its exact-
    spend group's max — an equal-spend neighbor with more orders
    dominates — and (b) strictly exceeds every higher-spend group's max
    — ties on BOTH dims survive together, since neither side has the
    required strict edge. The sweep's running max is the two-phase
    distributed prefix scan (q_time_concurrency's shape on the MAX
    monoid instead of SUM): spend groups partition into fixed-width
    buckets for parallel local prefix maxes; per-bucket maxes — the only
    single-partition step, |buckets| rows — turn into exclusive bucket
    offsets; greatest(local, offset) reassembles the exact global
    prefix. floor() bucketing is order-compatible, so bucket boundaries
    never split an equal-spend group.

    Parity discipline: spend is summed in EXACT integer cents (each
    price rounds to cents first, BIGINT accumulation) — a float-summed
    spend would be an order-dependent fold used as a JOIN KEY, the worst
    place for a 1-ulp wobble; -1 stands in for the empty prefix (counts
    are >= 1, so the comparison is unaffected).
    """
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cust = o.groupBy("o_custkey").agg(
        F.sum(cents).alias("spend_cents"), F.count("*").alias("n_orders")
    )
    grp = cust.groupBy("spend_cents").agg(F.max("n_orders").alias("gmax"))
    # two-phase prefix max over spend groups (desc): bucketed local sweep
    # + |buckets|-row offset frame, exact equivalent of the global window
    wl = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("spend_cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = grp.withColumn("bkt", F.floor(F.col("spend_cents") / 1000000)).withColumn(
        "lmax", F.max("gmax").over(wl)
    )
    tot = local.groupBy("bkt").agg(F.max("gmax").alias("bmax"))
    wo = Window.orderBy(F.desc("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    off = tot.select("bkt", F.max("bmax").over(wo).alias("omax"))
    pg = local.join(F.broadcast(off), "bkt").select(
        "spend_cents",
        "gmax",
        F.greatest(
            F.coalesce(F.col("lmax"), F.lit(-1)), F.coalesce(F.col("omax"), F.lit(-1))
        ).alias("pmax"),
    )
    return (
        cust.join(pg, "spend_cents")
        .where((F.col("n_orders") == F.col("gmax")) & (F.col("n_orders") > F.col("pmax")))
        .select("o_custkey", "spend_cents", "n_orders")
    )


@query(
    "q_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             CAST(date_trunc('month', min(o_orderdate)) AS TIMESTAMP)
               AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort_month, count(*) AS cohort_size FROM firsts GROUP BY cohort_month
    ),
    act AS (
      SELECT f.cohort_month,
             datediff('month', f.cohort_month,
                      CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP))
               AS m_offset,
             o.o_custkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    agg AS (
      SELECT cohort_month, CAST(m_offset AS BIGINT) AS m_offset,
             count(DISTINCT o_custkey) AS n_active,
             CAST(sum(cents) AS BIGINT) AS rev_cents
      FROM act GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_month, m_offset, n_active, rev_cents,
             CAST(sum(rev_cents) OVER (PARTITION BY cohort_month ORDER BY m_offset
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_rev_cents
      FROM agg
    )
    SELECT c.cohort_month, c.m_offset, c.n_active, c.rev_cents, c.cum_rev_cents,
           round(c.cum_rev_cents / 100.0 / s.cohort_size, 6) AS ltv_per_customer
    FROM cum c JOIN sizes s USING (cohort_month)
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by first-order
    month, revenue accumulated per cohort across month offsets, and the
    running LTV-per-customer each cohort has reached by offset m — the
    revenue twin of q_retention (which counts who comes back; this
    prices what they spend when they do). The curve a growth team reads
    to see whether newer cohorts monetize faster or slower than old
    ones at the same age.

    Shape: one groupBy builds the |customers|-row cohort frame, one
    equi-join tags every order with its cohort, one (cohort, offset)
    aggregate — count(DISTINCT custkey) rides the same shuffle — then a
    cumulative window PARTITIONED by cohort (keyed, bounded by ~months
    per cohort: never the keyless global-window trap). Month offsets on
    month-TRUNCATED timestamps are exact integers on both engines
    (months_between of truncated months has no fractional part; DuckDB
    datediff('month') counts the same boundaries). Revenue accumulates
    in exact integer cents (the q_skyline discipline) so the cumsum is
    order-independent; the single float division happens once at the
    end, on identical operands.
    """
    o = table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    sizes = firsts.groupBy("cohort_month").agg(F.count("*").alias("cohort_size"))
    act = o.join(firsts, "o_custkey").select(
        "cohort_month",
        F.months_between(
            F.date_trunc("month", "o_orderdate"), F.col("cohort_month")
        )
        .cast("long")
        .alias("m_offset"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    agg = act.groupBy("cohort_month", "m_offset").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("cents").alias("rev_cents"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("m_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = agg.withColumn("cum_rev_cents", F.sum("rev_cents").over(w))
    return cum.join(sizes, "cohort_month").select(
        "cohort_month",
        "m_offset",
        "n_active",
        "rev_cents",
        "cum_rev_cents",
        F.round(
            F.col("cum_rev_cents") / 100.0 / F.col("cohort_size"), 6
        ).alias("ltv_per_customer"),
    )


@query(
    "q_abc_analysis",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(rev_cents) AS total_cents FROM p),
    c AS (
      SELECT l_partkey, rev_cents,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
      FROM p
    )
    SELECT l_partkey, rev_cents,
           round(cum_cents / CAST(total_cents AS DOUBLE), 6) AS cum_share,
           CASE WHEN cum_cents / CAST(total_cents AS DOUBLE) <= 0.8 THEN 'A'
                WHEN cum_cents / CAST(total_cents AS DOUBLE) <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c CROSS JOIN tot
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto-class) inventory analysis: parts ranked by revenue,
    classified A while the running revenue share is within 80%, B to
    95%, C after — the merchandising/inventory classification behind
    "which 20% of SKUs earn 80% of revenue". The third instance of the
    repo's two-phase distributed prefix scan (concurrency = SUM over
    time, skyline = MAX over spend, this = SUM over rank order): local
    cumsums inside fixed-width revenue buckets, |buckets|-row exclusive
    offsets, broadcast reassembly — no corpus-sized keyless window even
    though the semantics are a global running total.

    Parity discipline: per-row discounted revenue rounds to EXACT cents
    first (identical operand pair on both engines, then BIGINT
    accumulation — the q_skyline key rule), the running total orders by
    (rev_cents DESC, l_partkey) so equal-revenue parts accumulate in a
    pinned order, and the one double division per row divides identical
    exact integers. Class thresholds compare the same division result,
    so the CASE branches identically.
    """
    from pyspark.sql import Window

    l = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    p = l.groupBy("l_partkey").agg(F.sum(cents).alias("rev_cents"))
    tot = p.agg(F.sum("rev_cents").alias("total_cents"))
    wl = (
        Window.partitionBy("bkt")
        .orderBy(F.desc("rev_cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("bkt", F.floor(F.col("rev_cents") / 1000000)).withColumn(
        "lsum", F.sum("rev_cents").over(wl)
    )
    btot = local.groupBy("bkt").agg(F.sum("rev_cents").alias("bsum"))
    wo = Window.orderBy(F.desc("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    off = btot.select(
        "bkt", F.coalesce(F.sum("bsum").over(wo), F.lit(0)).alias("osum")
    )
    share = (F.col("lsum") + F.col("osum")) / F.col("total_cents").cast("double")
    return (
        local.join(F.broadcast(off), "bkt")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "rev_cents",
            F.round(share, 6).alias("cum_share"),
            F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
                "abc_class"
            ),
        )
    )


@query(
    "q_orders_gini",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS r
      FROM cust
    ),
    s AS (
      SELECT count(*) AS n, sum(cents) AS s0, sum(r * cents) AS s1 FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(s0 AS BIGINT) AS total_cents,
           round((2.0 * s1 - (n + 1.0) * s0) / (n * CAST(s0 AS DOUBLE)), 6)
             AS gini
    FROM s
    """,
)
def q_orders_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-spend concentration — the inequality
    scalar that pairs with q_abc_analysis's classification (ABC says
    WHICH customers carry the revenue; Gini says HOW concentrated it is,
    0 = uniform, ->1 = one whale). The rank formula
    G = (2·Σ rᵢxᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) needs each spend's GLOBAL
    rank — the fourth instance of the two-phase prefix scan, this time
    on the COUNT monoid: per-bucket local row_numbers in parallel, a
    |buckets|-row cumulative-count offset frame, rank = local + offset.
    Tied spends take custkey-ordered unique ranks, which leaves the
    Σ rᵢxᵢ term invariant (equal x across any permutation of tied
    ranks), so the statistic is tie-order-independent even though the
    ranks aren't.

    Parity: spends in exact integer cents; rank·cents products
    accumulate as BIGINTs (bounded ~1e17 at fixture scales — at true
    corpus scale promote S1 to DECIMAL(38), same plan); the single
    float division happens once on identical operands.
    """
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cust = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    wl = Window.partitionBy("bkt").orderBy("cents", "o_custkey")
    local = cust.withColumn("bkt", F.floor(F.col("cents") / 1000000)).withColumn(
        "lr", F.row_number().over(wl)
    )
    tot = local.groupBy("bkt").agg(F.count("*").alias("bn"))
    wo = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    off = tot.select(
        "bkt", F.coalesce(F.sum("bn").over(wo), F.lit(0)).alias("prior")
    )
    ranked = local.join(F.broadcast(off), "bkt").select(
        "cents", (F.col("lr") + F.col("prior")).alias("r")
    )
    return ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s0"),
        F.sum(F.col("r") * F.col("cents")).alias("s1"),
    ).select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s0").cast("long").alias("total_cents"),
        F.round(
            (2.0 * F.col("s1") - (F.col("n") + 1.0) * F.col("s0"))
            / (F.col("n") * F.col("s0").cast("double")),
            6,
        ).alias("gini"),
    )


# One template, two bindings: the engine runs it over a registered temp
# view of the normalized orders frame, the oracle over DuckDB's `orders`
# view — textually identical SQL, so the recursion semantics cannot
# drift between engines (the _bpe_oracle_ladder lockstep discipline).
_RECURSIVE_SPINE_SQL = """
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('MONTH', min(o_orderdate)) AS TIMESTAMP) AS mn,
         CAST(date_trunc('MONTH', max(o_orderdate)) AS TIMESTAMP) AS mx
  FROM {tbl}
),
m(mon, end_mon) AS (
  SELECT mn, mx FROM bounds
  UNION ALL
  SELECT mon + INTERVAL '1' MONTH, end_mon FROM m WHERE mon < end_mon
),
agg AS (
  SELECT CAST(date_trunc('MONTH', o_orderdate) AS TIMESTAMP) AS mon,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(o_totalprice), 2) AS total
  FROM {tbl} GROUP BY date_trunc('MONTH', o_orderdate)
)
SELECT m.mon,
       COALESCE(agg.n, CAST(0 AS BIGINT)) AS n_orders,
       COALESCE(agg.total, 0.0) AS total
FROM m LEFT JOIN agg ON m.mon = agg.mon
"""


@query("q_sql_recursive", oracle=_RECURSIVE_SPINE_SQL.format(tbl="orders"))
def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) driving a zero-filled
    monthly rollup: the month spine is generated by DATA-DRIVEN
    iteration — anchor at min month, step +1 month until max, the end
    bound carried as a recursion COLUMN so neither the anchor nor the
    step needs a correlated scalar subquery — then left-joined against
    the per-month aggregate so empty months surface as explicit zero
    rows (the q_date_spine contract, previously only expressible via
    sequence()+explode; recursion is the form a SQL-first user ports
    from Postgres/DuckDB unchanged).

    Scale: each recursion step produces exactly ONE row (the working
    set is |months|, metadata-sized) and the step count is bounded by
    the data's calendar span — the shape recursion is FOR. The corpus
    cost is the one orders aggregate. The inverse shape — recursing
    over a cyclic corpus-sized graph — is deliberately NOT expressed
    this way: Spark 4.1 supports only UNION ALL recursion (verified:
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which path-ENUMERATES a
    cyclic graph instead of frontier-deduping it; bounded-hop
    reachability stays with q_graph_bfs's checkpointed frontier joins.
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_rec_v")
    return spark.sql(_RECURSIVE_SPINE_SQL.format(tbl="orders_rec_v"))
